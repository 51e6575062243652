import os

import pytest

from perfbench import check, gen


def test_diff_rows_catches_a_planted_wrong_row():
    good = [(1, "a", 2.5), (2, "b", 3.0), (3, None, float("nan"))]
    assert check.diff_rows(list(reversed(good)), good) is None
    assert check.diff_rows([(1, "a", 2.5 * (1 + 1e-12)), *good[1:]], good) is None
    assert check.diff_rows([(1, "a", 2.51), *good[1:]], good) is not None
    assert check.diff_rows([(1, "a", 2.5), (2, "c", 3.0), good[2]], good) is not None
    assert check.diff_rows(good[:2], good) is not None
    assert check.diff_rows(good + [good[0]], good) is not None


def test_components_drop_all_but_the_minimum():
    assert check.dropped_by_components([(5, 3), (3, 9), (9, 7), (1, 2)]) == {5, 7, 9, 2}
    assert check.dropped_by_components([]) == set()


GENESIS_LO_HI = (gen.GENESIS_BLOCK, gen.FIRST_EPOCH, gen.FIRST_EPOCH + 59)


@pytest.fixture
def warehouse(tmp_path):
    """Inputs from the generator and an output warehouse laid out the
    way the ETL writes it, filled with the oracle's own answer."""
    c = gen.chain(4, 30, 60)
    d = str(tmp_path)
    gen.write_parquet(gen.balances_table(c, 0, 60), f"{d}/balances/b.parquet")
    gen.write_parquet(gen.withdrawals_table(c, 0, 60), f"{d}/withdrawals/b.parquet")
    gen.write_parquet(gen.transfer_events_table(4, c), f"{d}/transfers/t.parquet")
    files = {
        "balances": f"{d}/balances/*.parquet",
        "withdrawals": f"{d}/withdrawals/*.parquet",
        "transfers": f"{d}/transfers/*.parquet",
        "income": f"{d}/income/*/*.parquet",
        "membership": f"{d}/membership/*/*.parquet",
        "index_apr": f"{d}/index_apr/*.parquet",
        "earnings": f"{d}/earnings/*.parquet",
    }
    con = check.duck(2, d)
    check.load_oracle(con, files, *GENESIS_LO_HI)
    con.execute(
        f"""COPY (SELECT bls_key, epoch, 0::BIGINT AS balance, e_cents / 100.0 AS earnings,
                  l_cents / 100.0 AS losses, n::DOUBLE AS epochs_since_active,
                  {check.APR_SQL} AS apr, epoch // 16 AS epoch_bucket FROM o_inc)
            TO '{d}/income' (FORMAT PARQUET, PARTITION_BY (epoch_bucket))"""
    )
    con.execute(
        f"""COPY (SELECT *, epoch // 16 AS epoch_bucket FROM o_mem)
            TO '{d}/membership' (FORMAT PARQUET, PARTITION_BY (epoch_bucket))"""
    )
    os.makedirs(f"{d}/index_apr")
    os.makedirs(f"{d}/earnings")
    con.execute(
        f"""COPY (SELECT indexes, epoch, apr, e_cents / 100.0 AS earnings, l_cents / 100.0 AS losses
                  FROM ({check.INDEX_APR_SQL})) TO '{d}/index_apr/p.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT bls_key, e_cents / 100.0 AS earnings, l_cents / 100.0 AS losses
                  FROM ({check.EARNINGS_SQL})) TO '{d}/earnings/p.parquet' (FORMAT PARQUET)"""
    )
    yield con, files, d
    con.close()


def _rewrite(con, path: str, sql: str) -> None:
    """Replace one parquet file with ``sql`` over its own rows (``t``)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE t AS SELECT * FROM read_parquet('{path}')")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def test_warehouse_check_accepts_the_right_answer(warehouse):
    con, files, _ = warehouse
    assert check.check_warehouse(con, files, *GENESIS_LO_HI) == []


def test_warehouse_check_catches_a_planted_wrong_income_row(warehouse):
    con, files, d = warehouse
    part = sorted(os.listdir(f"{d}/income"))[1]
    path = os.path.join(d, "income", part, os.listdir(os.path.join(d, "income", part))[0])
    _rewrite(
        con,
        path,
        "SELECT * REPLACE (CASE WHEN rowid = 3 THEN earnings + 0.01 ELSE earnings END AS earnings) FROM t",
    )
    problems = check.check_warehouse(con, files, *GENESIS_LO_HI)
    assert len(problems) == 1 and problems[0].startswith("income: 1 mismatched")


def test_warehouse_check_catches_wrong_snapshots(warehouse):
    con, files, d = warehouse
    _rewrite(con, f"{d}/index_apr/p.parquet", "SELECT * FROM t WHERE rowid <> 7")
    _rewrite(con, f"{d}/earnings/p.parquet", "SELECT * REPLACE (losses + 1 AS losses) FROM t")
    problems = check.check_warehouse(con, files, *GENESIS_LO_HI)
    assert [p.split(":")[0] for p in problems] == ["index_apr", "earnings_interface"]
