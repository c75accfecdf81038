"""Output checks, run after the measured region of every run.

kpi_queries: each query's result is compared with its DuckDB oracle
(`SparkEntry.oracleSql`) over the same tables, the comparison
`tools/local_verify.py` makes: columns sorted by name, rows sorted, floats
bit-exact, other values equal as strings.

ingest_*: each file's routing (final outcome, audit status, location) is
compared with the drop's manifest; the warehouse's row count, distinct
`sale_id`s and amount sum with the files that were loaded; and the fresh
KPI reads with DuckDB over the warehouse files.

Every check returns a list of failures; an empty list means correct.
"""
import glob
import os
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]

# Known defects: counted as failed operations, logged, but they do not make
# a run incorrect. Any other failed check does.
# - The sweep has no validation stage: files the batch path rejects at
#   validation are loaded by it.
STREAM_KNOWN_DEFECT = {"missing_column", "bad_date"}
# - Spark's `percentile` and DuckDB's `quantile_cont` interpolate between
#   neighbours in a different order, so on some data q37's percentiles differ
#   from the oracle in the last bits. Only float columns within this relative
#   distance count as the known defect.
QUERY_KNOWN_DEFECT = {"q37_value_percentiles": 1e-12}


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    try:
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    except Exception:
        return df.reset_index(drop=True)


def compare_frames(got, want):
    """Return (None, 0) when equal, else a one-line reason and, when floats
    alone differ, their largest relative difference (else None)."""
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}", None
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}", None
    float_diff = 0.0
    for c in got.columns:
        g, w = got[c], want[c]
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(w.dtype, np.floating):
            ga, wa = g.astype(float).to_numpy(), w.astype(float).to_numpy()
            both_nan = np.isnan(ga) & np.isnan(wa)
            if not np.array_equal(ga[~both_nan], wa[~both_nan]):
                with np.errstate(invalid="ignore", divide="ignore"):
                    rel = np.abs(ga - wa) / np.maximum(np.abs(wa), 1e-300)
                float_diff = max(float_diff, float(np.nanmax(np.where(both_nan, 0.0, rel))))
        elif not np.array_equal(g.astype(str).to_numpy(), w.astype(str).to_numpy()):
            return f"{c}: values differ", None
        if str(g.dtype) != str(w.dtype):
            return f"{c}: dtype {g.dtype} != {w.dtype}", None
    if float_diff:
        return f"floats differ (max relative {float_diff:.1e})", float_diff
    return None, 0.0


def check_queries(result, data_dir):
    """Map query name -> (failure reason, known defect), for each query whose
    output is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    bad = {}
    for name, sql in result["oracles"].items():
        files = glob.glob(os.path.join(result["results_dir"], name, "*.parquet"))
        if not files:
            bad[name] = ("no result written", False)
            continue
        got = pq.read_table(files[0]).to_pandas()
        try:
            want = con.execute(sql).arrow().to_pandas()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = (f"oracle error: {e}", False)
            continue
        reason, float_diff = compare_frames(got, want)
        if reason:
            known = float_diff is not None and float_diff <= QUERY_KNOWN_DEFECT.get(name, 0.0)
            bad[name] = (reason, known)
    return bad


def expected_outcome(kind, stream):
    if kind == "valid":
        return "loaded"
    return "quarantined" if stream else "validation_failed"


def check_files(result, stream):
    """Per-file routing failures: list of (name, reason, known_defect)."""
    failures = []
    for f in result["files"]:
        spec, outcome = f["spec"], f["outcome"]
        name, kind = spec["name"], spec["kind"]
        want = expected_outcome(kind, stream)
        if outcome != want:
            known = stream and outcome == "loaded" and kind in STREAM_KNOWN_DEFECT
            failures.append((name, f"{kind} file: {outcome}, expected {want}", known))
            continue
        if outcome == "loaded" and f["rows"] != spec["rows_if_loaded"]:
            failures.append((name, f"loaded {f['rows']} rows, expected {spec['rows_if_loaded']}", False))
            continue
        if stream:
            where = os.path.join(result["quarantine"] if outcome == "quarantined"
                                 else result["stream_incoming"], name)
        else:
            if f["audit_status"] != outcome:
                failures.append((name, f"audit status {f['audit_status']}, outcome {outcome}", False))
                continue
            where = os.path.join(result["bucket"], "processed" if outcome == "loaded"
                                 else os.path.join("failed", "validation_failed"), name)
        if not os.path.exists(where):
            failures.append((name, f"not at {where}", False))
    return failures


def _warehouse(con, wh):
    con.execute(f"CREATE OR REPLACE VIEW sales AS SELECT * FROM "
                f"read_parquet('{wh}/*/*.parquet', hive_partitioning = false)")


def check_warehouse(result):
    """The warehouse holds exactly the rows of the files that were loaded."""
    loaded = [f for f in result["files"] if f["outcome"] == "loaded"]
    want = (sum(f["spec"]["rows_if_loaded"] for f in loaded),
            sum(Decimal(f["spec"]["amount_if_loaded"]) for f in loaded))
    if not loaded:
        return ["no file was loaded"]
    con = duckdb.connect()
    _warehouse(con, result["warehouse"])
    n, ids, amount = con.execute(
        "SELECT count(*), count(DISTINCT sale_id), sum(CAST(amount AS DECIMAL(18,2))) FROM sales").fetchone()
    problems = []
    if n != want[0] or ids != want[0]:
        problems.append(f"warehouse rows {n}, distinct ids {ids}, expected {want[0]}")
    if Decimal(amount) != want[1]:
        problems.append(f"warehouse amount {amount}, expected {want[1]}")
    return problems


KPI_SQL = {
    "daily_totals": """SELECT CAST(sale_date AS DATE) AS day, count(*) AS n,
        sum(CAST(amount AS DECIMAL(18,2))) AS revenue FROM sales GROUP BY 1""",
    "top_customers": """SELECT customer_id, sum(CAST(amount AS DECIMAL(18,2))) AS revenue
        FROM sales GROUP BY 1 ORDER BY revenue DESC, customer_id ASC NULLS FIRST LIMIT 10""",
    "product_breakdown": """SELECT product_id, count(*) AS n, sum(quantity) AS qty,
        sum(CAST(amount AS DECIMAL(18,2))) AS revenue FROM sales GROUP BY 1""",
    "rolling_7day": """WITH d AS (SELECT CAST(sale_date AS DATE) AS day,
          sum(CAST(amount AS DECIMAL(18,2))) AS revenue FROM sales
          WHERE sale_date IS NOT NULL GROUP BY 1)
        SELECT day, sum(revenue) OVER w AS revenue_7d, count(*) OVER w AS days_7d FROM d
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
}
KPI_ORDERED = {"top_customers"}


def _canon(v):
    if v is None:
        return None
    try:
        return Decimal(str(v))
    except Exception:
        return str(v)


def check_kpis(result):
    """Each fresh KPI read equals DuckDB's answer over the warehouse files."""
    con = duckdb.connect()
    _warehouse(con, result["warehouse"])
    problems = []
    for name, sql in KPI_SQL.items():
        want = [tuple(_canon(v) for v in row) for row in con.execute(sql).fetchall()]
        width = len(want[0]) if want else 0
        got = [tuple(_canon(v) for v in row[:width]) for row in result["kpi_results"][name]]
        if name not in KPI_ORDERED:
            key = lambda r: tuple((x is None, str(x)) for x in r)
            got, want = sorted(got, key=key), sorted(want, key=key)
        if got != want:
            problems.append(f"{name}: {len(got)} rows differ from DuckDB's {len(want)}")
    return problems
