"""Seeded transcript inputs for the benchmark workloads.

Rows follow the package's own scenario templates
(``sources.transcripts.template_frame``): replica ``r`` of scenario
``s`` becomes conversation ``conv-<r>`` whose embedded task id is
``r + 100000``, plus one hot conversation of click turns one second
apart. The seed changes the replica -> scenario offset, shifts every
timestamp by a few whole seconds and permutes the row order inside each
file; the sizes, scenario mix and hot-task share stay the same, so two
seeds give inputs of one shape.

Inputs are written with pyarrow straight to parquet, outside any timed
region; the program under test only ever reads the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from logstash_filter_aggregate_spark.sources.transcripts import (
    N_SCENARIOS,
    TS0,
    template_frame,
)

HOT_TASK_ID = 900000


@dataclass(frozen=True)
class InputShape:
    """Size and layout of one generated input."""

    replicas: int  # scenario replicas (ordinary conversations)
    hot_turns: int  # turns of the one hot conversation
    files: int  # parquet files written
    ts_ordered_files: bool = False  # streaming replay: file k holds later events than file k-1
    # seconds between the starts of consecutive conversations; a task
    # spans at most a few seconds, so with 1 s many tasks are open at any
    # instant, and a streaming replay carries state across micro-batches
    start_spacing_s: int = 13


@dataclass
class InputInfo:
    path: str
    turns: int
    tasks: int  # distinct embedded task ids
    hot_share: float  # hot-conversation turns / all turns
    files: int

    def as_dict(self) -> dict:
        return {
            "turns": self.turns,
            "tasks": self.tasks,
            "hot_task_share": round(self.hot_share, 4),
            "files": self.files,
        }


def _table(shape: InputShape, seed: int) -> pa.Table:
    tpl = template_frame()
    offset = seed % N_SCENARIOS
    ts_shift = seed % 7  # whole seconds; keeps the gap structure intact
    r = np.arange(shape.replicas, dtype=np.int64)
    scen = (r + offset) % N_SCENARIOS + 1
    cols: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    ts0 = np.datetime64(TS0.replace(" ", "T"), "s") + np.timedelta64(ts_shift, "s")
    for s, rows in tpl.groupby("scen"):
        reps = r[scen == s]
        if len(reps) == 0:
            continue
        conv = np.char.add("conv-", np.char.zfill(reps.astype(str), 7))
        tid = (reps + 100000).astype(str)
        base = ts0 + ((reps % 997) * shape.start_spacing_s).astype("timedelta64[s]")
        for row in rows.itertuples(index=False):
            n = len(reps)
            cols["conv_id"].append(conv)
            cols["turn_idx"].append(np.full(n, row.t_idx, dtype=np.int32))
            cols["role"].append(np.full(n, row.role, dtype=object))
            pre, post = row.text.split("{TID}") if "{TID}" in row.text else (row.text, None)
            cols["text"].append(
                np.full(n, row.text, dtype=object)
                if post is None
                else np.char.add(np.char.add(pre, tid), post)
            )
            cols["tool"].append(np.full(n, row.tool, dtype=object))
            cols["ts"].append(base + np.timedelta64(int(row.offset_s), "s"))
    if shape.hot_turns:
        h = np.arange(shape.hot_turns, dtype=np.int64)
        words = np.array(["One", "Two", "Three"], dtype=object)[h % 3]
        cols["conv_id"].append(np.full(shape.hot_turns, "hot-0000", dtype=object))
        cols["turn_idx"].append(h.astype(np.int32))
        cols["role"].append(np.full(shape.hot_turns, "user", dtype=object))
        cols["text"].append(np.char.add(f"INFO - {HOT_TASK_ID} - Clicked ", words.astype(str)))
        cols["tool"].append(np.full(shape.hot_turns, "none", dtype=object))
        cols["ts"].append(ts0 + h.astype("timedelta64[s]"))
    return pa.table(
        {
            "conv_id": pa.array(np.concatenate(cols["conv_id"]).astype(str), pa.string()),
            "turn_idx": pa.array(np.concatenate(cols["turn_idx"]), pa.int32()),
            "role": pa.array(np.concatenate(cols["role"]).astype(str), pa.string()),
            "text": pa.array(np.concatenate(cols["text"]).astype(str), pa.string()),
            "tool": pa.array(np.concatenate(cols["tool"]).astype(str), pa.string()),
            "ts": pa.array(np.concatenate(cols["ts"]).astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        }
    )


def materialize(shape: InputShape, seed: int, path: str) -> InputInfo:
    """Write the input for ``(shape, seed)`` to ``path`` as parquet files.

    Batch inputs are split into files at random; each file's rows are in
    a seed-dependent random order. Streaming inputs
    (``ts_ordered_files``) are split by event time instead, so a replay
    that reads the files in name/mtime order never delivers an event
    behind the watermark of an earlier micro-batch; only the order
    within a file is shuffled.
    """
    rng = np.random.default_rng(seed)
    table = _table(shape, seed)
    n = table.num_rows
    if shape.ts_ordered_files:
        order = np.argsort(table.column("ts").to_numpy(), kind="stable")
        chunks = np.array_split(order, shape.files)
    else:
        chunks = np.array_split(rng.permutation(n), shape.files)
    os.makedirs(path, exist_ok=True)
    mtime = 1_700_000_000
    for k, idx in enumerate(chunks):
        idx = rng.permutation(idx)
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.take(pa.array(idx)), f)
        # file sources pick files oldest-first: pin an increasing mtime so
        # the replay order is the event-time order regardless of clock
        # resolution
        os.utime(f, (mtime + k, mtime + k))
    ids = pc.struct_field(pc.extract_regex(table.column("text"), r"^\w+ - (?P<tid>\S+) - "), [0])
    tasks = len(pc.unique(ids.drop_null()))
    return InputInfo(path=path, turns=n, tasks=tasks, hot_share=shape.hot_turns / n, files=shape.files)
