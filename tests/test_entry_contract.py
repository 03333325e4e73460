"""Mirror of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet tables; compare
row count, schema width, and order-insensitive values."""

import decimal
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.001")


def _duck(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


ORACLED = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    spark_df = q(spark, SF_DIR).toPandas()
    duck_df = _duck(SF_DIR, entry_mod.oracle_sql()[name])
    a, b = _canon(spark_df), _canon(duck_df)
    assert list(a.columns) == list(b.columns), f"{name}: column names differ"
    assert len(a) == len(b), f"{name}: row count {len(a)} vs oracle {len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            assert np.allclose(a[c], b[c], rtol=0, atol=1e-9, equal_nan=True), (
                f"{name}.{c}: float mismatch\n{a[c].head()}\n{b[c].head()}"
            )
            # the driver hashes values: require exact equality too
            exact = (a[c].values == b[c].values) | (
                np.isnan(a[c].values) & np.isnan(b[c].values)
            )
            assert exact.all(), f"{name}.{c}: not bitwise-equal after rounding"
        else:
            assert a[c].tolist() == b[c].tolist(), f"{name}.{c}: values differ"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert df.schema is not None
    assert len(rows) >= 0


def _canon_driver(df: pd.DataFrame) -> pd.DataFrame:
    """Replicate the DRIVER's canonicalization order exactly: sort columns,
    then sort_values over raw dtypes (this is where array-valued cells crash
    with "unhashable type: 'list'" — the r1 failure mode), then stringify.
    Rows-only queries must survive this even without an oracle."""
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(by=list(df.columns), ignore_index=True)  # raises on list cells
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df


def test_rows_only_queries_survive_driver_canon(spark):
    for name, q in entry_mod.queries().items():
        if name in ORACLED:
            continue
        pdf = q(spark, SF_DIR).toPandas()
        try:
            canon = _canon_driver(pdf)
        except TypeError as e:  # pragma: no cover - regression guard
            raise AssertionError(
                f"{name}: driver canonicalization would crash ({e}); "
                "scalar-encode array columns (see _scalarize_sig)"
            ) from e
        assert len(canon) >= 0, name


# Per-document queries: one row per document, globally ordered by doc_id
# through ``_ranged`` (range-sorted UDF input, no trailing orderBy).
PER_DOC = [
    "sketch_signatures",
    "sketch_signatures_sha",
    "sketch_superminhash",
    "sketch_superminhash_values",
    "sketch_superminhash2",
    "sketch_probminhash2",
    "sketch_revoptdens",
    "sketch_cardinality",
    "sketch_simhash",
    "sketch_fingerprints",
    "lang_id_heuristic",
    "sketch_ordminhash",
]

# the ``make_sketch_udf`` queries and the config each must sketch with,
# written out here so a mixed-up entry config fails
SIG_CFGS = {
    "sketch_signatures": dict(algo="probminhash3a", weighted=True),
    "sketch_signatures_sha": dict(algo="probminhash3a", weighted=True, hasher="sha"),
    "sketch_superminhash": dict(algo="superminhash"),
    "sketch_superminhash2": dict(algo="superminhash2"),
    "sketch_probminhash2": dict(algo="probminhash2", weighted=True),
    "sketch_revoptdens": dict(algo="revoptdens"),
}


def _spark_round2(x: float) -> float:
    """Spark's ``round(x, 2)`` on a double: HALF_UP on its shortest decimal form."""
    q = decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.01"), decimal.ROUND_HALF_UP)
    return float(q)


def _kernel_columns(name: str, texts: list) -> dict:
    """Output column -> the values the query must hold, computed by its numpy
    kernel on the same texts and encoded as the query encodes them."""
    from probminhash_spark.config import DedupConfig
    from probminhash_spark.functions.sketch_udfs import (
        _ordminhash_np,
        _shingle_multiset,
        _sketch_batch_np,
    )
    from probminhash_spark.kernels.setsketch import (
        SetSketchParams,
        setsketch_batch,
        setsketch_cardinality,
    )
    from probminhash_spark.kernels.shingles import shingle_batch
    from probminhash_spark.kernels.superminhash import superminhash_batch

    def joined(prefix, rows, fmt=str):
        return {
            f"{prefix}_len": [len(r) for r in rows],
            f"{prefix}_str": ["-".join(map(fmt, r)) for r in rows],
        }

    n = len(texts)
    if name in SIG_CFGS:
        cfg = DedupConfig(num_hashes=64, bands=16, rows=4, **SIG_CFGS[name])
        return joined("sig", _sketch_batch_np(texts, cfg).view(np.int64))
    if name == "sketch_superminhash_values":
        cfg = DedupConfig(algo="superminhash", num_hashes=64, bands=16, rows=4)
        d, h = shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
        vals, _ = superminhash_batch(d, h, n, cfg.num_hashes, cfg.hasher)
        return joined("hsketch", vals, "{:.6f}".format)
    if name == "sketch_cardinality":
        cfg = DedupConfig()
        params = SetSketchParams(m=cfg.setsketch_m)
        d, h, _ = _shingle_multiset(texts, cfg)
        card, _ = setsketch_cardinality(setsketch_batch(d, h, n, params, cfg.hasher), params)
        return {"est_distinct_shingles": [_spark_round2(c) for c in card]}
    if name == "sketch_ordminhash":
        # make_ordminhash_udf(m=16, l=2) at its default seed
        return joined("ord_sig", _ordminhash_np(texts, 16, 2, 0x5EED))
    return {}


@pytest.mark.parametrize("name", PER_DOC)
def test_per_document_query_order_and_values(spark, name):
    got = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    ids = got["doc_id"].to_numpy()
    assert len(ids) == len(docs), f"{name}: not one row per document"
    assert (np.diff(ids) > 0).all(), f"{name}: doc_id not strictly increasing"
    texts = docs.set_index("doc_id").loc[ids, "text"].fillna("").tolist()
    for col, want in _kernel_columns(name, texts).items():
        assert got[col].tolist() == want, f"{name}: {col} differs from its numpy kernel"


def _union_cardinality(regs: np.ndarray, params) -> float:
    """SetSketch merge identity: a group's sketch is the register-wise max of
    its members' sketches; the query reports its rounded cardinality."""
    from probminhash_spark.kernels.setsketch import setsketch_cardinality

    card, _ = setsketch_cardinality(regs.max(axis=0).astype(np.float64), params)
    return _spark_round2(float(card))


@pytest.mark.parametrize(
    "name, key",
    [("sketch_group_cardinality", "source"), ("sketch_group_rollup", "lang")],
)
def test_group_sketch_query_values(spark, name, key):
    from probminhash_spark.config import DedupConfig
    from probminhash_spark.functions.sketch_udfs import _shingle_multiset
    from probminhash_spark.kernels.setsketch import SetSketchParams, setsketch_batch

    got = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cfg = DedupConfig(setsketch_m=256)  # the group queries' config
    params = SetSketchParams(m=cfg.setsketch_m)
    texts = docs["text"].fillna("").tolist()
    d, h, _ = _shingle_multiset(texts, cfg)
    regs = setsketch_batch(d, h, len(texts), params, cfg.hasher)
    want = {}
    for k, idx in docs.groupby(key).indices.items():
        row = {
            "n_docs": len(idx),
            "est_distinct_shingles": _union_cardinality(regs[idx], params),
        }
        if name == "sketch_group_rollup":
            row["n_child_groups"] = docs.iloc[idx]["source"].nunique()
        want[k] = row
    assert got[key].tolist() == sorted(want), f"{name}: groups or order differ"
    for col in want[next(iter(want))]:
        assert got[col].tolist() == [want[k][col] for k in got[key]], f"{name}: {col}"
