"""Correctness checks: DuckDB recomputes from the same files the
program read or wrote, and a tolerant row comparator.

Money is compared in integer cents (the way the warehouse-soak catalog
query checks its incremental warehouse); other floats within a relative
1e-9, which absorbs summation-order differences between the engines.
"""

from __future__ import annotations

import math

REL_TOL = 1e-9


def duck(threads: int, tmp: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


# --- row comparison ------------------------------------------------------
def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (0, float(f"{v:.6g}")) if isinstance(v, float) and not math.isnan(v)
        else (1, "") if v is None
        else (2, str(v))
        for v in row
    )


def diff_rows(actual: list[tuple], expected: list[tuple]) -> str | None:
    """None when ``actual`` equals ``expected`` as a multiset of rows
    (floats within tolerance); otherwise a short description."""
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    for a, e in zip(sorted(actual, key=_sort_key), sorted(expected, key=_sort_key)):
        if len(a) != len(e) or not all(_same(x, y) for x, y in zip(a, e)):
            return f"row {a!r} != expected {e!r}"
    return None


# --- the ETL warehouse ---------------------------------------------------
def income_oracle_sql(balances: str, withdrawals: str) -> str:
    """Single-shot recompute of the income table: adjacent-epoch deltas
    with the withdrawal added back, in integer cents, stopping each key
    at its first epoch gap."""
    return f"""
WITH wd AS (
  SELECT bls_key, epoch, sum(values_withdrawals) AS wd
  FROM read_parquet('{withdrawals}') GROUP BY 1, 2
), b AS (
  SELECT b.bls_key, b.epoch, b.balance, coalesce(wd.wd, 0.0) AS wd
  FROM read_parquet('{balances}') b LEFT JOIN wd USING (bls_key, epoch)
), l AS (
  SELECT bls_key, epoch,
         CAST(round((balance + wd - lag(balance) OVER w) * 100) AS BIGINT) AS delta,
         epoch - lag(epoch) OVER w > 1 AS gap,
         row_number() OVER w - 1 AS n
  FROM b WINDOW w AS (PARTITION BY bls_key ORDER BY epoch)
), g AS (
  SELECT *, min(CASE WHEN gap THEN epoch END) OVER (PARTITION BY bls_key) AS first_gap
  FROM l
), t AS (SELECT * FROM g WHERE first_gap IS NULL OR epoch < first_gap)
SELECT bls_key, epoch, n,
       coalesce(sum(CASE WHEN delta > 0 THEN delta END) OVER cum, 0) AS e_cents,
       0 - coalesce(sum(CASE WHEN delta < 0 THEN delta END) OVER cum, 0) AS l_cents
FROM t
WINDOW cum AS (PARTITION BY bls_key ORDER BY epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def membership_oracle_sql(transfers: str, genesis_block: int, lo: int, hi: int) -> str:
    """As-of index membership per (key, epoch) over ``[lo, hi]``."""
    return f"""
WITH ev AS (
  SELECT bls_key, (block_number - {genesis_block}) // 32 AS from_epoch,
         CAST(split_part(value, '-', 2) AS BIGINT) AS indexes
  FROM read_parquet('{transfers}')
), iv AS (
  SELECT *, lead(from_epoch) OVER (PARTITION BY bls_key ORDER BY from_epoch) AS valid_to
  FROM ev
)
SELECT bls_key, unnest(range(greatest(from_epoch, {lo}),
                             least(coalesce(valid_to - 1, {hi}), {hi}) + 1)) AS epoch,
       indexes
FROM iv
"""


# Per-key APR exactly as the income job computes it (F1).
APR_SQL = (
    "CASE WHEN n > 0 THEN (e_cents / 100.0) * 1e9 / n / 24e18 * 82179.45 * 100.0 "
    "ELSE 0.0 END"
)

# Index APR over the oracle tables o_inc and o_mem: per (index, epoch)
# the mean member APR and the summed cents, then the W3 spike filter.
INDEX_APR_SQL = f"""
WITH j AS (
  SELECT m.indexes, i.epoch, {APR_SQL} AS apr, i.e_cents, i.l_cents
  FROM o_inc i JOIN o_mem m USING (bls_key, epoch)
), agg AS (
  SELECT indexes, epoch, avg(apr) AS apr, sum(e_cents) AS e_cents, sum(l_cents) AS l_cents
  FROM j GROUP BY 1, 2
), nb AS (
  SELECT *, lag(apr) OVER w AS pv, lead(apr) OVER w AS nv
  FROM agg WINDOW w AS (PARTITION BY indexes ORDER BY epoch)
)
SELECT indexes, epoch, apr, e_cents, l_cents FROM nb
WHERE NOT coalesce(
  pv IS NOT NULL AND nv IS NOT NULL
  AND abs(apr - pv) / CASE WHEN pv <> 0 THEN abs(pv) END > 0.1
  AND abs(apr - nv) / CASE WHEN nv <> 0 THEN abs(nv) END > 0.1, false)
"""

EARNINGS_SQL = """
SELECT bls_key, e_cents, l_cents FROM o_inc
QUALIFY row_number() OVER (PARTITION BY bls_key ORDER BY epoch DESC) = 1
"""


def load_oracle(con, files: dict[str, str], genesis_block: int, lo: int, hi: int) -> None:
    """Create the oracle tables o_inc (income) and o_mem (membership)
    from the input globs in ``files``."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE o_inc AS {income_oracle_sql(files['balances'], files['withdrawals'])}")
    con.execute(
        "CREATE OR REPLACE TEMP TABLE o_mem AS " + membership_oracle_sql(files["transfers"], genesis_block, lo, hi)
    )


def check_warehouse(con, files: dict[str, str], genesis_block: int, lo: int, hi: int) -> list[str]:
    """Compare the final ETL warehouse with a single-shot DuckDB
    recompute of the same inputs. ``files`` maps balances, withdrawals,
    transfers (input globs) and income, membership, index_apr,
    earnings (output globs). Returns the mismatches found."""
    load_oracle(con, files, genesis_block, lo, hi)
    problems = []

    def mismatches(label: str, sql: str) -> None:
        n, example = con.execute(f"SELECT count(*), any_value(x) FROM ({sql}) x").fetchone()
        if n:
            problems.append(f"{label}: {n} mismatched rows, e.g. {example}")

    income = f"read_parquet('{files['income']}', hive_partitioning = true)"
    mismatches(
        "income",
        f"""
        SELECT coalesce(o.bls_key, a.bls_key) AS k, coalesce(o.epoch, a.epoch) AS e
        FROM o_inc o FULL OUTER JOIN {income} a ON o.bls_key = a.bls_key AND o.epoch = a.epoch
        WHERE o.bls_key IS NULL OR a.bls_key IS NULL
           OR o.e_cents <> CAST(round(a.earnings * 100) AS BIGINT)
           OR o.l_cents <> CAST(round(a.losses * 100) AS BIGINT)
           OR o.n <> a.epochs_since_active
           OR abs(a.apr - ({APR_SQL})) > {REL_TOL} * greatest(abs(a.apr), 1e-12)
        """,
    )
    mismatches("income duplicates", f"SELECT bls_key, epoch FROM {income} GROUP BY 1, 2 HAVING count(*) > 1")
    mismatches(
        "membership",
        f"""
        SELECT coalesce(o.bls_key, a.bls_key) AS k, coalesce(o.epoch, a.epoch) AS e
        FROM o_mem o FULL OUTER JOIN read_parquet('{files['membership']}', hive_partitioning = true) a
          ON o.bls_key = a.bls_key AND o.epoch = a.epoch
        WHERE o.bls_key IS NULL OR a.bls_key IS NULL OR o.indexes <> a.indexes
        """,
    )
    mismatches(
        "index_apr",
        f"""
        SELECT coalesce(o.indexes, a.indexes) AS i, coalesce(o.epoch, a.epoch) AS e
        FROM ({INDEX_APR_SQL}) o
        FULL OUTER JOIN read_parquet('{files['index_apr']}', hive_partitioning = false) a
          ON o.indexes = a.indexes AND o.epoch = a.epoch
        WHERE o.indexes IS NULL OR a.indexes IS NULL
           OR o.e_cents <> CAST(round(a.earnings * 100) AS BIGINT)
           OR o.l_cents <> CAST(round(a.losses * 100) AS BIGINT)
           OR abs(a.apr - o.apr) > {REL_TOL} * greatest(abs(o.apr), 1e-12)
        """,
    )
    mismatches(
        "earnings_interface",
        f"""
        SELECT coalesce(o.bls_key, a.bls_key) AS k
        FROM ({EARNINGS_SQL}) o
        FULL OUTER JOIN read_parquet('{files['earnings']}', hive_partitioning = false) a USING (bls_key)
        WHERE o.bls_key IS NULL OR a.bls_key IS NULL
           OR o.e_cents <> CAST(round(a.earnings * 100) AS BIGINT)
           OR o.l_cents <> CAST(round(a.losses * 100) AS BIGINT)
        """,
    )
    return problems


# --- the corpus pipeline -------------------------------------------------
def corpus_oracle(con, documents: str) -> tuple[set[int], set[int]]:
    """(survivors of the quality gate and exact dedup, kept ids) of
    ``pipeline_corpus_clean`` over ``documents``.

    Runs the catalog oracle's own SQL up to its near-duplicate edge list
    and resolves the components with a union-find in Python: the
    oracle's recursive transitive closure gives the same minimum label
    per component, and DuckDB needs minutes for it at this corpus size.
    """
    from stakehouse_etl_spark.queries.registry import QUERIES
    import stakehouse_etl_spark.queries.corpus  # noqa: F401  (registers the query)

    sql = QUERIES["pipeline_corpus_clean"].oracle
    head = sql[: sql.index("), sym AS")] + ")"
    con.execute(f"CREATE OR REPLACE TEMP VIEW documents AS SELECT * FROM read_parquet('{documents}')")
    rows = con.execute(
        head + " SELECT 0, doc_id, NULL FROM surv UNION ALL SELECT 1, a, b FROM edges"
    ).fetchall()
    surv = {r[1] for r in rows if r[0] == 0}
    edges = [(r[1], r[2]) for r in rows if r[0] == 1]
    return surv, surv - dropped_by_components(edges)


def dropped_by_components(edges: list[tuple[int, int]]) -> set[int]:
    """Nodes whose connected component holds a smaller id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n for n in parent if find(n) < n}
