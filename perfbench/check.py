"""Output check: DuckDB recomputes each workload's output from the same
input parquet and compares the row count and an order-independent digest
of every output column.

Each column's digest is sum(hash(conv_id, turn_idx, value)) over all
rows, so it is keyed to the row it belongs to and insensitive to row
order and file layout. The reference as-of only matches observations with
ts <= the anchor's ts, so agreement also shows zero leakage.
"""
import duckdb

GATED_TEXT = """CASE WHEN text IS NULL THEN NULL
         WHEN strlen(text) BETWEEN 1 AND 4000 THEN lower(trim(text))
         ELSE text END"""

PIPELINE = """
WITH t AS (SELECT * FROM read_parquet('{inp}/*.parquet')),
g AS (
  SELECT conv_id, turn_idx, role, tool, ts, {gated} AS text,
    CASE WHEN text IS NULL THEN 1 WHEN strlen(text) = 0 THEN 2
         WHEN strlen(text) > 4000 THEN 1 ELSE 0 END AS n_errors
  FROM t),
w AS (
  SELECT *,
    lag(text) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_text,
    last_value(tool IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_state,
    sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id
      ORDER BY ts, turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS n_tool_calls,
    lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
  FROM g),
s AS (
  SELECT *,
    sum(CASE WHEN prev_ts IS NULL OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
        THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_seq
  FROM w),
obs AS (
  SELECT conv_id, ts, max_by(tool, turn_idx) AS last_tool
  FROM t WHERE tool IS NOT NULL GROUP BY conv_id, ts)
SELECT s.conv_id, s.turn_idx, s.role, s.text, s.tool, s.ts, s.n_errors,
  s.prev_text, s.tool_state, s.n_tool_calls, s.session_seq,
  s.conv_id || '#' || CAST(s.session_seq AS VARCHAR) AS session_id, o.last_tool
FROM s ASOF LEFT JOIN obs o ON s.conv_id = o.conv_id AND s.ts >= o.ts
"""

_EMPTY = ('[{"path":["text"],"code":"cannot_be_empty",'
          '"message":"value should not be empty","detail":null}]')
_SHORT = ('[{"path":["text"],"code":"cannot_be_empty",'
          '"message":"value should not be empty","detail":null},'
          '{"path":["text"],"code":"too_short",'
          '"message":"expected length of at least 1, found 0",'
          '"detail":{"min":1,"actual":0,"exclusive":false}}]')

ROUTED = """
WITH t AS (SELECT * FROM read_parquet('{inp}/*.parquet'))
SELECT conv_id, turn_idx, role, {gated} AS text, tool, ts,
  CASE WHEN text IS NULL THEN '{empty}'
       WHEN strlen(text) = 0 THEN '{short}'
       WHEN strlen(text) > 4000 THEN
         '[{{"path":["text"],"code":"too_long","message":"expected length of at most 4000, found '
         || strlen(text) || '","detail":{{"max":4000,"actual":' || strlen(text)
         || ',"exclusive":false}}}}]'
       ELSE '[]' END AS report,
  text IS NULL OR strlen(text) = 0 OR strlen(text) > 4000 AS quarantined
FROM t
"""


def reference_sql(workload, inp):
    if workload == "gate_report":
        return ROUTED.format(inp=inp, gated=GATED_TEXT, empty=_EMPTY, short=_SHORT)
    return PIPELINE.format(inp=inp, gated=GATED_TEXT)


def output_sql(workload, out):
    if workload == "gate_report":
        return (f"SELECT * FROM read_parquet('{out}/*/*.parquet', "
                "hive_partitioning = true)")
    if workload == "backfill":
        return (f"SELECT * FROM read_parquet('{out}/bucket=*/*.parquet', "
                "hive_partitioning = false)")
    return f"SELECT * FROM read_parquet('{out}/*.parquet')"


def _digests(con, sql):
    cols = con.sql(f"DESCRIBE {sql}").fetchall()
    def canon(name, typ):
        q = f'"{name}"'
        return f"epoch_us({q})" if "TIMESTAMP" in typ else f"CAST({q} AS VARCHAR)"
    key = f"{canon('conv_id', 'VARCHAR')}, {canon('turn_idx', 'INTEGER')}"
    exprs = ", ".join(
        f"sum(hash({key}, {canon(n, t)})::HUGEINT)" for n, t, *_ in cols)
    row = con.sql(f"SELECT count(*), {exprs} FROM ({sql})").fetchone()
    return row[0], {n: d for (n, *_), d in zip(cols, row[1:])}


def connect(threads, tmp):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def check(con, workload, inp, out):
    """Returns (ok, message)."""
    n_ref, ref = _digests(con, reference_sql(workload, inp))
    n_out, got = _digests(con, output_sql(workload, out))
    if set(ref) != set(got):
        return False, f"columns differ: reference {sorted(ref)} output {sorted(got)}"
    if n_ref != n_out:
        return False, f"row count {n_out} != reference {n_ref}"
    bad = sorted(c for c in ref if ref[c] != got[c])
    if bad:
        return False, f"{len(bad)} column digests differ: {bad}"
    return True, f"{n_out} rows, {len(ref)} column digests match the DuckDB reference"


def shape(con, inp):
    """Input shape: turns, conversations, largest-conversation share,
    invalid-text share, tied-ts share."""
    row = con.sql(f"""
      WITH t AS (SELECT * FROM read_parquet('{inp}/*.parquet')),
      c AS (SELECT conv_id, count(*) AS n FROM t GROUP BY conv_id),
      k AS (SELECT count(*) AS n FROM t GROUP BY conv_id, ts)
      SELECT (SELECT count(*) FROM t), (SELECT count(*) FROM c),
        (SELECT max(n) FROM c) / (SELECT count(*) FROM t),
        (SELECT avg(CASE WHEN text IS NULL OR strlen(text) = 0
                         OR strlen(text) > 4000 THEN 1 ELSE 0 END) FROM t),
        (SELECT sum(CASE WHEN n > 1 THEN n ELSE 0 END) FROM k) / (SELECT count(*) FROM t)
    """).fetchone()
    return dict(zip(["turns", "conversations", "largest_conv_share",
                     "invalid_share", "tied_ts_share"], row))
