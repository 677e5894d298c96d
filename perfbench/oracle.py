"""Expected sink contents, computed by DuckDB from the generated parquet.

Nothing here reads the engine's output to decide what is expected. The
SQL follows the shapes the repository's DuckDB oracle already certifies
(``__spark_entry__.oracle_sql()``), re-aimed at the transcript schema:

- parse: the three default grok lines as plain regexes, first match wins;
- example 1 (create / guard-gated update with a required input / end):
  the ``_GUARDED_SEG_CTE`` + ``o19b_guarded_exception_tags`` shapes —
  segments split after every end row and at inactivity gaps
  (``_GAP_SESSIONS_CTE``), a row's code runs once a start precedes it in
  its segment, a NULL required input tags the passthrough row;
- example 3 with ``exact_age_cap``: the ``o09c_age_cap_exact`` shape —
  gap blocks by window, then the session-hop recursion step (a row whose
  age from the session start exceeds the cap starts a new session). That
  one step runs as a plain loop over the ordered rows, because DuckDB's
  recursive CTE needs one iteration per row of the longest block.

Each sink is checked by row count and, where a shape exists, by an
order-independent checksum: the sum of a hash over chosen columns,
computed by the same DuckDB expression on both sides. Sinks that no
config of the workload can fill (timeout and inline without
push-on-timeout or a zero-timeout rule, the streaming ``emit`` sink
without emit rules) are checked by count only.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import duckdb

_LL = r"(?:ALERT|TRACE|DEBUG|NOTICE|INFO|WARN(?:ING)?|ERR(?:OR)?|CRIT(?:ICAL)?|FATAL|SEVERE|EMERG(?:ENCY)?)"
_ERR = _LL + r" - (\S+) - TOOL - \b(\w+)\b - E([+-]?\d+)"
_CLICK = _LL + r" - (\S+) - Clicked \b(\w+)\b"
_TASK = _LL + r" - (\S+) - (\S+) - \b(\w+)\b( - ([+-]?\d+))?"

PARSED_SQL = f"""
CREATE OR REPLACE TEMP VIEW parsed AS
SELECT conv_id, turn_idx, ts, text,
       CASE WHEN regexp_matches(text, '{_ERR}') THEN 'error'
            WHEN regexp_matches(text, '{_CLICK}') THEN 'click'
            WHEN regexp_matches(text, '{_TASK}') THEN 'task' END AS grok_pattern,
       CASE WHEN regexp_matches(text, '{_ERR}') THEN regexp_extract(text, '{_ERR}', 1)
            WHEN regexp_matches(text, '{_CLICK}') THEN regexp_extract(text, '{_CLICK}', 1)
            WHEN regexp_matches(text, '{_TASK}') THEN regexp_extract(text, '{_TASK}', 1) END AS taskid,
       CASE WHEN NOT regexp_matches(text, '{_ERR}') AND regexp_matches(text, '{_CLICK}')
            THEN regexp_extract(text, '{_CLICK}', 2) END AS click_target,
       CASE WHEN NOT regexp_matches(text, '{_ERR}') AND NOT regexp_matches(text, '{_CLICK}')
                 AND regexp_matches(text, '{_TASK}')
            THEN regexp_extract(text, '{_TASK}', 2) END AS logger,
       CASE WHEN NOT regexp_matches(text, '{_ERR}') AND NOT regexp_matches(text, '{_CLICK}')
                 AND regexp_matches(text, '{_TASK}')
            THEN TRY_CAST(NULLIF(regexp_extract(text, '{_TASK}', 5), '') AS BIGINT) END AS duration
FROM raw
"""

# order-independent checksum of a relation over the named columns;
# timestamps enter as epoch seconds so INT96 and TIMESTAMPTZ agree
def _checksum_sql(rel: str, cols: list[str], ts_cols: tuple[str, ...] = ()) -> str:
    parts = [
        f"COALESCE(CAST(CAST(epoch({c}) AS BIGINT) AS VARCHAR), '~')" if c in ts_cols
        else f"COALESCE(CAST({c} AS VARCHAR), '~')"
        for c in cols
    ]
    return f"SELECT CAST(COALESCE(sum(hash(concat_ws('|', {', '.join(parts)}))), 0) AS VARCHAR) FROM {rel}"


# example 1: rule rows, guarded segments, included rows
_EX1_CTE = """
WITH r AS (
  SELECT taskid AS task_id, conv_id, turn_idx, ts, duration,
         CASE logger WHEN 'TASK_START' THEN 'start' WHEN 'SQL' THEN 'update'
                     WHEN 'TASK_END' THEN 'end' END AS rule
  FROM parsed
  WHERE taskid IS NOT NULL AND logger IN ('TASK_START', 'SQL', 'TASK_END')
),
b AS (
  SELECT *,
         COALESCE(sum(CASE WHEN rule = 'end' THEN 1 ELSE 0 END) OVER (
            PARTITION BY task_id ORDER BY ts, conv_id, turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS end_seg,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > {gap} THEN 1 ELSE 0 END AS gflag
  FROM r WINDOW w AS (PARTITION BY task_id ORDER BY ts, conv_id, turn_idx)
),
g AS (
  SELECT *, sum(gflag) OVER (PARTITION BY task_id ORDER BY ts, conv_id, turn_idx) AS gseg
  FROM b
),
i AS (
  SELECT *, sum(CASE WHEN rule = 'start' THEN 1 ELSE 0 END) OVER (
            PARTITION BY task_id, end_seg, gseg ORDER BY ts, conv_id, turn_idx) >= 1 AS included
  FROM g
),
m AS (
  SELECT task_id, end_seg, gseg,
         COALESCE(sum(CASE WHEN rule = 'update' AND included THEN duration END), 0) AS sql_duration,
         min(CASE WHEN included THEN ts END) AS creation_ts,
         max(CASE WHEN included THEN ts END) AS lastevent_ts,
         bool_or(rule = 'end' AND included) AS ended
  FROM i GROUP BY task_id, end_seg, gseg
  HAVING bool_or(included)
)
"""

EX1_COMPLETED_COLS = ["task_id", "sql_duration", "creation_ts"]
EX1_PASSTHROUGH_COLS = ["conv_id", "turn_idx", "grok_pattern", "taskid", "tagged"]
CLICK_SESSION_COLS = ["task_id", "clicks", "creation_ts", "lastevent_ts"]
TS_COLS = ("creation_ts", "lastevent_ts")


# checksum columns a sink carries in another form: name -> (source, expr)
_DERIVED = {
    # the passthrough's exception tag
    "tagged": ("tags", "COALESCE(list_contains(tags, '_aggregateexception'), FALSE)"),
    # the streaming sinks carry the map as JSON
    "sql_duration": (
        "map_json",
        "CAST(CAST(json_extract_string(map_json, '$.sql_duration') AS DOUBLE) AS BIGINT)",
    ),
}


@dataclass
class SinkExpectation:
    rows: int
    cols: list[str] | None  # checksum columns; None = count only
    checksum: str | None


def _connect(input_path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE TEMP VIEW raw AS SELECT * FROM read_parquet('{input_path}/*.parquet')")
    con.execute(PARSED_SQL)
    return con


def _count(con, rel: str) -> int:
    return int(con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0])


def _expect(con, rel: str, cols: list[str]) -> SinkExpectation:
    return SinkExpectation(
        _count(con, rel), cols, con.execute(_checksum_sql(rel, cols, TS_COLS)).fetchone()[0]
    )


def expected_example1(input_path: str, timeout: float, streaming: bool = False) -> dict[str, SinkExpectation]:
    """Expected buckets of ``example1_config(timeout=...)``. Inactivity
    defaults to the timeout; without push-on-timeout, expired maps are
    dropped, so only completed, open and passthrough carry rows."""
    con = _connect(input_path)
    cte = _EX1_CTE.format(gap=timeout)
    con.execute(f"CREATE TEMP TABLE completed AS {cte} SELECT * FROM m WHERE ended")
    out = {"completed": _expect(con, "completed", EX1_COMPLETED_COLS)}
    zero = SinkExpectation(0, None, None)
    if streaming:
        out.update(timeout=zero, inline=zero, emit=zero)
        return out
    # open: the task's last map, neither ended nor expired at the
    # end-of-input watermark
    con.execute(
        f"""CREATE TEMP TABLE open_maps AS {cte},
            last AS (
              SELECT *, lastevent_ts = max(lastevent_ts) OVER (PARTITION BY task_id) AS is_last FROM m
            ),
            wm AS (SELECT max(ts) AS w FROM raw)
            SELECT last.* FROM last, wm
            WHERE is_last AND NOT ended
              AND epoch(wm.w) - epoch(creation_ts) <= {timeout}
              AND epoch(wm.w) - epoch(lastevent_ts) <= {timeout}"""
    )
    con.execute(
        f"""CREATE TEMP TABLE passthrough AS {cte}
            SELECT p.conv_id, p.turn_idx, p.grok_pattern, p.taskid,
                   COALESCE(i.rule = 'update' AND i.included AND i.duration IS NULL, FALSE) AS tagged
            FROM parsed p LEFT JOIN i ON p.conv_id = i.conv_id AND p.turn_idx = i.turn_idx"""
    )
    out.update(
        timeout=zero,
        inline=zero,
        open=_expect(con, "open_maps", EX1_COMPLETED_COLS),
        passthrough=_expect(con, "passthrough", EX1_PASSTHROUGH_COLS),
    )
    return out


def expected_clicks_exact(input_path: str, timeout: float, inactivity: float) -> dict[str, SinkExpectation]:
    """Expected buckets of ``example3_config(exact_age_cap=True)``: click
    sessions pushed on timeout, the task's last live session open."""
    con = _connect(input_path)
    rows = con.execute(
        f"""SELECT taskid AS task_id, ts, epoch(ts) AS t,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > {inactivity} THEN 1 ELSE 0 END AS gflag
            FROM parsed WHERE taskid IS NOT NULL AND click_target IS NOT NULL
            WINDOW w AS (PARTITION BY taskid ORDER BY ts, conv_id, turn_idx)
            ORDER BY taskid, ts, conv_id, turn_idx"""
    ).df()
    # o09c's recursion step: a new gap block resets the session start;
    # inside a block a row past the age cap starts a new session
    sess, sts, k = [], 0.0, 0
    for t, gflag in zip(rows["t"].tolist(), rows["gflag"].tolist()):
        if gflag or t - sts > timeout:  # a task's first row has gflag = 1
            k += 1
            sts = t
        sess.append(k)
    rows["sess"] = sess
    con.register("hop", rows)
    con.execute(
        f"""CREATE TEMP TABLE sessions AS
            WITH s AS (
              SELECT task_id, sess, count(*) AS clicks,
                     min(ts) AS creation_ts, max(ts) AS lastevent_ts
              FROM hop GROUP BY task_id, sess
            ),
            wm AS (SELECT max(ts) AS w FROM raw)
            SELECT s.*, (s.sess = max(s.sess) OVER (PARTITION BY s.task_id)
                         AND epoch(wm.w) - epoch(s.creation_ts) <= {timeout}
                         AND epoch(wm.w) - epoch(s.lastevent_ts) <= {inactivity}) AS is_open
            FROM s, wm"""
    )
    con.execute("CREATE TEMP VIEW timeout_s AS SELECT * FROM sessions WHERE NOT is_open")
    con.execute("CREATE TEMP VIEW open_s AS SELECT * FROM sessions WHERE is_open")
    zero = SinkExpectation(0, None, None)
    return {
        "completed": zero,
        "timeout": _expect(con, "timeout_s", CLICK_SESSION_COLS),
        "inline": zero,
        "open": _expect(con, "open_s", CLICK_SESSION_COLS),
    }


def check_outputs(
    expected: dict[str, SinkExpectation], sink_dirs: dict[str, str], reported_rows: dict[str, int]
) -> list[str]:
    """Compare every sink's landed parquet (and the row count the program
    itself reported) with the expectation. Returns mismatch messages."""
    problems = []
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for sink, exp in expected.items():
        files = sorted(glob.glob(os.path.join(sink_dirs[sink], "**", "*.parquet"), recursive=True))
        if files:
            con.execute(f"CREATE OR REPLACE TEMP VIEW landed AS SELECT * FROM read_parquet({files!r}, union_by_name = true)")
            cols = {r[0] for r in con.execute("DESCRIBE landed").fetchall()}
            derived = "".join(
                f", {expr} AS {name}"
                for name, (src, expr) in _DERIVED.items()
                if name not in cols and src in cols
            )
            con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT *{derived} FROM landed")
            got_rows = _count(con, "got")
        else:
            got_rows = 0
        if got_rows != exp.rows:
            problems.append(f"{sink}: {got_rows} rows landed, expected {exp.rows}")
        if sink in reported_rows and reported_rows[sink] != exp.rows:
            problems.append(f"{sink}: program reported {reported_rows[sink]} rows, expected {exp.rows}")
        if exp.checksum is not None and got_rows:
            got_sum = con.execute(_checksum_sql("got", exp.cols, TS_COLS)).fetchone()[0]
            if got_sum != exp.checksum:
                problems.append(f"{sink}: checksum {got_sum} != expected {exp.checksum}")
    return problems


def check_kinds(expected: dict[str, SinkExpectation]) -> dict[str, str]:
    return {s: ("count+checksum" if e.checksum is not None else "count only") for s, e in expected.items()}
