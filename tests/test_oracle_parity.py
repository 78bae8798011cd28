"""Driver-style correctness gate: every queries() entry vs its DuckDB
oracle on the same parquet fixtures (sf from MANDOLINE_TEST_SF, default
0.001 for speed; the driver itself runs sf0.01).

Comparison mimics the driver: column names sorted, rows order-
insensitive, and values compared by EXACT stringified value — floats
included.  r14 (VERDICT r13 #3): floats used to be compared with
``isclose(rel_tol=1e-9)``, which is exactly what made this suite blind
to the q91 rounding-tie flip the driver's exact hash caught (a
half-cent-boundary group sum whose round(,2) is decided by float
summation order).  The driver hashes stringified values; so do we now —
a plan rewrite that flips a rounding tie fails HERE before it ships.
The declared queries round anything order-sensitive, so bit-exact
equality is the correct bar, not an aspiration: rounded outputs of
exact-decimal accumulation are engine-independent by construction.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from mandoline_spark.queries import TABLES

SF_DIR = os.environ.get("MANDOLINE_TEST_SF", "/root/testdata/sf0.001")
# lazily-built oracles (q38's literal VALUES) read this env var to bind
# to the sf the Spark side runs at; the driver leaves it unset and gets
# the sf0.01 default it compares at
os.environ["MANDOLINE_TEST_SF"] = SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def _assert_equal(name: str, got: pd.DataFrame, want: pd.DataFrame):
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        # the driver hashes stringified values, so an integer column on
        # one side vs a float on the other (e.g. DuckDB HUGEINT ->
        # float64 in pandas) is a real mismatch: "42" != "42.0"
        assert not (
            {gv.dtype.kind, wv.dtype.kind} == {"i", "f"}
        ), (
            f"{name}.{c}: dtype kind mismatch spark={gv.dtype} "
            f"oracle={wv.dtype} (cast the oracle aggregate, e.g. "
            f"HUGEINT sums to BIGINT)"
        )
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            # the driver's eyes: exact stringified value.  repr() of a
            # float64 is its shortest round-trip form, so two values
            # compare equal iff their BITS are equal — `isclose` here
            # would re-open the rounding-tie blind spot (see module
            # docstring).
            for i, (a, b) in enumerate(zip(gv, wv)):
                if pd.isna(a) and pd.isna(b):
                    continue
                assert not (pd.isna(a) or pd.isna(b)), f"{name}.{c}[{i}]: {a} vs {b}"
                assert repr(float(a)) == repr(float(b)), (
                    f"{name}.{c}[{i}]: {float(a)!r} != {float(b)!r} "
                    f"(exact-string mismatch; driver hash semantics)"
                )
        else:
            mism = (gv.astype(str) != wv.astype(str)).to_numpy().nonzero()[0]
            assert len(mism) == 0, (
                f"{name}.{c}: first mismatch row {mism[:5]}: "
                f"{gv.iloc[mism[0]]!r} != {wv.iloc[mism[0]]!r}"
            )


QUERY_NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(name, spark, duck):
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    got = queries[name](spark, SF_DIR).toPandas()
    if name not in oracles:
        assert len(got) >= 0  # rows-only check, like the driver's
        return
    want = duck.execute(oracles[name]).fetchdf()
    _assert_equal(name, got, want)


# every 5th declared query: all query shapes are represented
AQE_SAMPLE = QUERY_NAMES[::5]


@pytest.mark.parametrize("name", AQE_SAMPLE)
def test_query_matches_oracle_with_aqe_on(name, spark, duck):
    """Results must not depend on AQE: the engine ships it off, and a
    user's session that turns it on gets the same exact-string rows."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        test_query_matches_oracle(name, spark, duck)
    finally:
        spark.conf.set(key, old)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
