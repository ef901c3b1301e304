"""Source-only guard: the package's pandas boundary may only shrink.

Arrow→pandas turns an int64 column holding any NULL into float64, so a
bigint key beside a NULL loses its low bits. New Python-worker code goes
through ``mapInArrow`` / ``applyInArrow`` / ``arrow_udf``; this test
counts every remaining ``mapInPandas`` / ``applyInPandas`` /
``applyInPandasWithState`` / ``pandas_udf`` reference per module (from
the AST, so docstrings and comments do not count) against ``SITES``.
A module that grows a site fails; so does a row left above its module's
count, so the table ratchets down: lower a row when a site moves to
Arrow, and delete it when the module has none left.
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "bitfilters_spark"
PANDAS_APIS = {"mapInPandas", "applyInPandas", "applyInPandasWithState", "pandas_udf"}

# module: (sites, why pandas is still there)
SITES = {
    "functions/filters.py": (5, "peeled and sharded grouped builds, cogrouped deletes"),
    "functions/sample.py": (2, "bottom-k quantile and size probes over blob columns"),
    "operators/bpe.py": (2, "BPE encoding of text; word-type piece counts"),
    "operators/cdc.py": (1, "content-defined chunking of text per document"),
    "operators/dedup.py": (2, "weighted-MinHash and SimHash signatures per document"),
    "operators/dsir.py": (2, "hashed n-gram histograms and per-document DSIR counts"),
    "operators/multimodal.py": (7, "decode, resize, frame, feature and hash of payloads"),
    "operators/packing.py": (2, "greedy sequence packing over (id, weight) partitions"),
    "operators/sampling.py": (2, "water-filling threshold candidates per partition"),
    "operators/similarity.py": (1, "PCA projection of float embeddings"),
    "operators/text.py": (2, "zlib compressed length and NFKC normalization of text"),
    "operators/unigram.py": (2, "unigram segmentation of word types"),
    "operators/web.py": (2, "exact mojibake repair and robots.txt parsing of text"),
    "sources/warc.py": (1, "WARC archive bytes to records"),
    "streaming/asof.py": (1, "per-key as-of state over the right stream"),
    "streaming/dedup.py": (2, "seen-hash state for exact and TTL stream dedup"),
    "streaming/frontier.py": (1, "per-host politeness queue state"),
    "streaming/sessions.py": (1, "per-key session state"),
    "streaming/sketches.py": (1, "the one windowed state machine of the five sketches"),
}


def _pandas_sites(path: pathlib.Path) -> int:
    n = 0
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Attribute) and node.attr in PANDAS_APIS:
            n += 1
        elif isinstance(node, ast.Name) and node.id in PANDAS_APIS:
            n += 1
    return n


def test_pandas_sites_only_shrink():
    """Every module's pandas-site count equals its row (0 without one)."""
    counts = {
        path.relative_to(PACKAGE).as_posix(): _pandas_sites(path)
        for path in sorted(PACKAGE.rglob("*.py"))
    }
    grown = [
        f"{rel}: {n} pandas sites, table allows {SITES.get(rel, (0,))[0]}"
        for rel, n in counts.items()
        if n > SITES.get(rel, (0,))[0]
    ]
    assert not grown, grown
    stale = [
        f"{rel}: table allows {allowed}, module has {counts.get(rel, 0)}"
        for rel, (allowed, _) in SITES.items()
        if counts.get(rel, 0) < allowed
    ]
    assert not stale, f"lower these rows: {stale}"
