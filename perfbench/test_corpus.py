"""Properties of the benchmark's generated corpora.

    python -m pytest perfbench/test_corpus.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kachess_spark.lineage import LineageSession, closure  # noqa: E402

from perfbench import checks, corpus  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from kachess_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return get_spark("perfbench-tests")


def _extract(spark, c):
    sess = LineageSession(spark, c.metastore)
    for s in c.scripts:
        sess.extract_script(s.text)
    frames = sess.frames()
    edges = checks.frame_rows(
        frames["select_item_rel"], ["parent_select_item_id", "child_select_item_id"]
    )
    return sess, frames, np.unique(edges, axis=0)


def _longest_path(edges: np.ndarray) -> int:
    """Hops on the longest path of a DAG."""
    children: dict[int, list[int]] = {}
    indeg: dict[int, int] = {}
    for a, b in edges.tolist():
        children.setdefault(a, []).append(b)
        indeg[b] = indeg.get(b, 0) + 1
        indeg.setdefault(a, 0)
    depth = {n: 0 for n in indeg}
    todo = [n for n, d in indeg.items() if d == 0]
    while todo:
        n = todo.pop()
        for c in children.get(n, []):
            depth[c] = max(depth[c], depth[n] + 1)
            indeg[c] -= 1
            if indeg[c] == 0:
                todo.append(c)
    return max(depth.values())


@pytest.mark.parametrize("make", [corpus.ingest_corpus, corpus.deep_corpus])
def test_same_seed_same_bytes(make):
    a, b, c = make(5), make(5), make(6)
    assert [s.text for s in a.scripts] == [s.text for s in b.scripts]
    assert a.metastore.tables == b.metastore.tables
    assert [s.text for s in a.scripts] != [s.text for s in c.scripts]


def test_ingest_corpus_shape():
    c = corpus.ingest_corpus(5)
    assert len(c.scripts) >= 1_000
    sizes = [s.statements for s in c.scripts]
    assert min(sizes) >= 1 and max(sizes) <= 8
    assert len(c.skip_markers) > 0


def test_ingest_corpus_extracts_below_closure_limit(spark):
    c = corpus.ingest_corpus(5)
    sess, frames, edges = _extract(spark, c)
    assert len(edges) < closure.SMALL_GRAPH_EDGES
    assert checks.check_ingest(c, sess.skipped, frames) == []
    assert len(sess.skipped) == len(c.skip_markers)


def test_deep_corpus_takes_distributed_branch_past_max_hops(spark):
    c = corpus.deep_corpus(5)
    sess, _, edges = _extract(spark, c)
    assert sess.skipped == []
    assert len(edges) > closure.SMALL_GRAPH_EDGES
    assert _longest_path(edges) > 20
    want = checks.closure_oracle(edges)
    assert want[:, 2].max() == 20  # the cap cuts the longer paths
