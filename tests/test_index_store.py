"""The persisted-index store (`sources/index_store.py`) across all seven
index families: indexes sharing one external ``path=`` keep their own
rows, a rebuild that fails mid-write leaves the live index queryable and
a retry succeeds, every public entry point rejects a non-identifier name
before any SQL runs, and no other module speaks the publish protocol."""

import ast
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from bitfilters_spark.operators import (
    ann_index,
    bm25_index,
    cdc,
    neardup_index,
    phrase_index,
)
from test_index_compaction import _docs, _emb

# family -> (build function, input kind, first table suffix, build kwargs)
FAMILIES = {
    "bm25": (bm25_index.build_bm25_index, "text", "postings", {}),
    "phrase": (phrase_index.build_phrase_index, "text", "postings", {}),
    "lsh": (neardup_index.build_lsh_index, "text", "bands", {"k": 16, "bands": 4}),
    "cdc": (cdc.build_cdc_index, "text", "chunks", {}),
    "ann": (ann_index.build_ann_index, "vec", "cells", {"n_centroids": 4}),
    "ivfpq": (
        ann_index.build_ivfpq_index, "vec", "cells",
        {"n_centroids": 4, "m": 4, "n_codes": 8},
    ),
    "sig": (ann_index.build_sig_index, "vec", "sigs", {}),
}


def _rows(spark, kind, lo, hi):
    if kind == "text":
        df = _docs(spark)
        return df.where(F.col("doc_id").between(lo, hi - 1)).select("doc_id", "text")
    df = _emb(spark)
    return df.where(F.col("vec_id").between(lo, hi - 1)).select("vec_id", "embedding")


def _build(family, df, name, path, models=None):
    build, kind, _, kw = FAMILIES[family]
    cols = ("doc_id", "text") if kind == "text" else ("vec_id", "embedding")
    kw = dict(kw, num_buckets=4, path=path)
    if family == "ann" and models is not None:
        kw["centroids"] = models
    if family == "ivfpq" and models is not None:
        kw["centroids"], kw["codebooks"] = models
    return build(df, *cols, name, **kw)


def _drop_managed(spark, *tables):
    """DROP TABLE and remove the default location: the catalog does not
    outlive a session, so an earlier run's managed directories remain."""
    from urllib.parse import urlparse

    db = spark.catalog.getDatabase(spark.catalog.currentDatabase()).locationUri
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(pathlib.Path(urlparse(db).path) / t, ignore_errors=True)


def _ids(spark, name, family):
    table = f"{name}_{FAMILIES[family][2]}"
    spark.catalog.refreshTable(table)
    return {r["id"] for r in spark.table(table).select("id").distinct().collect()}


@pytest.mark.parametrize("family", list(FAMILIES))
def test_indexes_sharing_one_path_keep_their_own_rows(spark, tmp_path, family):
    """Two indexes built with one ``path=`` must not share a data
    directory: building B must leave A's rows in A."""
    kind = FAMILIES[family][1]
    shared = str(tmp_path / "shared")
    a, b = f"shpa_{family}", f"shpb_{family}"
    _build(family, _rows(spark, kind, 0, 40), a, shared)
    _build(family, _rows(spark, kind, 100, 140), b, shared)
    got_a, got_b = _ids(spark, a, family), _ids(spark, b, family)
    assert got_a and got_a <= set(range(40))
    assert got_b and got_b <= set(range(100, 140))


@pytest.mark.parametrize("external", [False, True], ids=["managed", "path"])
@pytest.mark.parametrize("family", list(FAMILIES))
def test_failed_rebuild_keeps_the_live_index(spark, tmp_path, family, external):
    """A rebuild whose input raises mid-write leaves the previous index
    live and complete, and the next rebuild publishes normally."""
    kind = FAMILIES[family][1]
    name = f"fail_{family}_{'ext' if external else 'mgd'}"
    path = str(tmp_path / name) if external else None
    _drop_managed(spark, *[
        f"{name}{t}_{suffix}"
        for t in ("", "__stage")
        for suffix in ("postings", "vocab", "stats", "bands", "shingles",
                       "chunks", "cells", "centroids", "codebooks", "sigs")
    ])
    good = _rows(spark, kind, 0, 40)
    models = _build(family, good, name, path)
    before = _ids(spark, name, family)
    assert before

    key, col = ("doc_id", "text") if kind == "text" else ("vec_id", "embedding")
    bad = _rows(spark, kind, 100, 140).withColumn(
        col,
        F.when(F.col(key) == 103, F.raise_error(F.lit("boom"))).otherwise(F.col(col)),
    )
    with pytest.raises(Exception, match="boom"):
        _build(family, bad, name, path, models)
    assert _ids(spark, name, family) == before

    _build(family, _rows(spark, kind, 100, 140), name, path, models)
    assert _ids(spark, name, family) <= set(range(100, 140))


def test_orphaned_managed_stage_directory_does_not_block_a_publish(spark):
    """A managed stage write that fails inside its write tasks can leave
    the stage directory behind (a ``_temporary`` tree), and Spark will not
    create a managed table over a non-empty location: publish clears it."""
    from urllib.parse import urlparse

    from bitfilters_spark.sources.index_store import Table, publish

    _drop_managed(spark, "orphan_rows", "orphan__stage_rows")
    db = spark.catalog.getDatabase(spark.catalog.currentDatabase()).locationUri
    leftover = pathlib.Path(urlparse(db).path) / "orphan__stage_rows" / "_temporary"
    leftover.mkdir(parents=True, exist_ok=True)
    (leftover / "part-0").write_bytes(b"partial")
    publish(spark, "orphan", (Table("rows", "id"),), [spark.range(10)], {"num_buckets": 4})
    assert spark.table("orphan_rows").count() == 10


BAD = "x; DROP TABLE y"

# entry point -> argument shape (the name goes where BAD is placed)
ENTRY_POINTS = {
    bm25_index: {
        "build_bm25_index": "text",
        "append_to_bm25_index": "text",
        "compact_bm25_index": "spark",
        "bm25_index_stats": "spark",
        "bm25_query_index": "spark_queries",
        "BM25Probe": "spark",
    },
    phrase_index: {
        "build_phrase_index": "text",
        "append_to_phrase_index": "text",
        "compact_phrase_index": "spark",
        "phrase_search": "spark_queries",
    },
    neardup_index: {
        "build_lsh_index": "text",
        "append_to_lsh_index": "text",
        "probe_lsh_index": "spark_text",
        "dedup_against_index": "spark_text",
        "lsh_index_geometry": "spark",
        "compact_lsh_index": "spark",
    },
    cdc: {
        "build_cdc_index": "text",
        "append_to_cdc_index": "text",
        "probe_cdc_index": "spark_text",
        "cdc_dedup_against_index": "spark_text",
        "cdc_index_geometry": "spark",
        "compact_cdc_index": "spark",
    },
    ann_index: {
        "build_ann_index": "vec",
        "append_to_ann_index": "vec",
        "compact_ann_index": "spark",
        "load_ann_centroids": "spark",
        "AnnProbe": "spark",
        "ann_query_index": "spark_queries",
        "ann_index_report": "spark",
        "recenter_ann_index": "spark",
        "build_ivfpq_index": "vec",
        "append_to_ivfpq_index": "vec",
        "load_pq_codebooks": "spark",
        "IvfPqProbe": "spark",
        "ivfpq_query_index": "spark_queries",
        "compact_ivfpq_index": "spark",
        "ivfpq_index_report": "spark",
        "build_sig_index": "vec",
        "append_to_sig_index": "vec",
        "sig_query_index": "spark_queries",
        "compact_sig_index": "spark",
    },
}
_ENTRIES = [(m, f) for m, fs in ENTRY_POINTS.items() for f in fs]


@pytest.mark.parametrize(
    "module,fn", _ENTRIES, ids=[f for _, f in _ENTRIES]
)
def test_names_are_checked_before_any_sql(spark, monkeypatch, module, fn):
    """A crafted index name raises ValueError before the function issues
    a statement or resolves a table."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(1, "a b")], "query_id long, query string")

    def no_sql(*a, **k):
        raise AssertionError("SQL ran before the name check")

    for attr in ("sql", "table"):
        monkeypatch.setattr(spark, attr, no_sql)
    monkeypatch.setattr(spark.catalog, "refreshTable", no_sql)
    args = {
        "text": (docs, "doc_id", "text", BAD),
        "vec": (vecs, "vec_id", "embedding", BAD),
        "spark": (spark, BAD),
        "spark_queries": (spark, BAD, queries),
        "spark_text": (spark, docs, "doc_id", "text", BAD),
    }[ENTRY_POINTS[module][fn]]
    with pytest.raises(ValueError, match="identifier"):
        getattr(module, fn)(*args)


PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "bitfilters_spark"
STORE = PACKAGE / "sources" / "index_store.py"
# modules that stage a plain directory (not a catalog table) under a
# ``__stage`` name and swap it with state_io renames
DIRECTORY_SWAPS = {
    "operators/packing.py": "packed shards stage under path/__stage",
    "streaming/state_io.py": "additive partial tables compact through a directory swap",
}


def test_streaming_fold_state_lives_in_state_io():
    """Only `streaming/state_io.py` heals a rename-aside swap, lists
    batch-keyed snapshots or writes npz state, and no streaming module
    imports a private name of a sibling."""
    found = []
    for path in sorted((PACKAGE / "streaming").glob("*.py")):
        src = path.read_text()
        if path.name != "state_io.py":
            for token in ("__old", "batch_state_dirs", "np.savez"):
                if token in src:
                    found.append(f"{path.name}: {token}")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and node.level == 1:
                found += [
                    f"{path.name}: imports {node.module}.{a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not found, found


def test_index_protocol_lives_in_one_module():
    """Only `sources/index_store.py` renames, stamps or stages index
    tables, and no module reaches into `bm25_index` privates."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == STORE:
            continue
        rel = path.relative_to(PACKAGE).as_posix()
        src = path.read_text()
        for token in ("RENAME TO", "SET TBLPROPERTIES", "SHOW TBLPROPERTIES"):
            if token in src:
                found.append(f"{rel}: {token}")
        if "__stage" in src and rel not in DIRECTORY_SWAPS:
            found.append(f"{rel}: __stage")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith(
                "bm25_index"
            ):
                found += [
                    f"{rel}: imports bm25_index.{a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
            if (
                isinstance(node, ast.Attribute)
                and node.attr.startswith("_")
                and isinstance(node.value, ast.Name)
                and node.value.id == "bm25_index"
            ):
                found.append(f"{rel}: bm25_index.{node.attr}")
    assert not found, found
