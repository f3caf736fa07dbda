"""Output checks.  Each returns a list of failure messages (empty = pass);
the workloads count every failed check into ``failed``.

* ingest — every table edge a generated script is expected to produce is
  present in the extracted graph, and the only skipped statements are the
  planted ones;
* closure and lookups — equal, row for row, to a DuckDB ``WITH RECURSIVE``
  closure with ``distance <= max_hops`` and the minimum distance per pair;
* registry queries — equal to their ``registry.ORACLES`` DuckDB twin,
  compared the way ``tools/check_parity.py`` compares them.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pyarrow as pa


def table_edges(datasets: list[tuple], dataset_rel: list[tuple]) -> set[tuple[str, str]]:
    """Direct table-to-table edges of an extracted graph: for each TABLE
    dataset, the TABLE datasets reached upstream through non-TABLE ones
    (SELECT scopes, CTEs, lateral views).  ``datasets`` rows are
    ``(id, schema_name, table_name, type)``."""
    name = {
        i: f"{s}.{t}".lower()
        for i, s, t, ty in datasets
        if ty == "TABLE"
    }
    parents: dict[int, list[int]] = defaultdict(list)
    for p, c in dataset_rel:
        parents[c].append(p)
    out: set[tuple[str, str]] = set()
    for d, dname in name.items():
        seen = {d}
        stack = list(parents[d])
        while stack:
            u = stack.pop()
            if u in seen:
                continue
            seen.add(u)
            if u in name:
                out.add((name[u], dname))
            else:
                stack.extend(parents[u])
    return out


def check_ingest(corpus, skipped: list[tuple[str, str]], frames: dict) -> list[str]:
    fails = []
    ds = [
        tuple(r)
        for r in frames["datasets"].select("id", "schema_name", "table_name", "type").collect()
    ]
    rel = [tuple(r) for r in frames["dataset_rel"].collect()]
    got = table_edges(ds, rel)
    missing = corpus.expected_table_edges - got
    if missing:
        fails.append(f"{len(missing)} expected table edges missing, e.g. {sorted(missing)[:3]}")
    planted = corpus.skip_markers
    hit = set()
    for stmt, reason in skipped:
        marks = [m for m in planted if m in stmt]
        if not marks:
            fails.append(f"unplanted skip ({reason[:80]}): {stmt[:80]!r}")
        hit.update(marks)
    if hit != planted:
        fails.append(f"{len(planted - hit)} planted skips were extracted instead")
    return fails


# ------------------------------------------------------------------ closure

CLOSURE_SQL = """
WITH RECURSIVE edges(src, dst) AS (
  SELECT DISTINCT src, dst FROM edge_input WHERE src <> dst
),
walk(src, dst, distance) AS (
  SELECT src, dst, 1 FROM edges
  UNION
  SELECT w.src, e.dst, w.distance + 1
  FROM walk w JOIN edges e ON w.dst = e.src
  WHERE w.distance < {max_hops} AND w.src <> e.dst
)
SELECT src, dst, MIN(distance) AS distance FROM walk GROUP BY 1, 2
"""


def closure_oracle(edges: list[tuple[int, int]], max_hops: int = 20) -> np.ndarray:
    """DuckDB ``WITH RECURSIVE`` closure as a sorted ``(n, 3)`` int64
    array of ``(ancestor, descendant, distance)``."""
    import duckdb

    arr = np.asarray(edges, dtype=np.int64).reshape(-1, 2)
    con = duckdb.connect()
    try:
        con.register("edge_input", pa.table({"src": arr[:, 0], "dst": arr[:, 1]}))
        res = con.execute(CLOSURE_SQL.format(max_hops=int(max_hops))).fetchnumpy()
    finally:
        con.close()
    return sort_rows(np.stack([res["src"], res["dst"], res["distance"]], axis=1))


def sort_rows(a: np.ndarray) -> np.ndarray:
    """Rows of a 2-d array as int64, in lexicographic order."""
    a = np.asarray(a, dtype=np.int64)
    return a[np.lexsort(a.T[::-1])] if len(a) else a


def frame_rows(df, cols: list[str]) -> np.ndarray:
    """A DataFrame's integer columns as a sorted int64 array."""
    t = df.select(*cols).toArrow()
    a = np.stack([t.column(c).to_numpy() for c in cols], axis=1) if t.num_rows else np.zeros((0, len(cols)))
    return sort_rows(a)


def check_rows(what: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    if got.shape == want.shape and np.array_equal(got, want):
        return []
    return [f"{what}: {len(got)} rows differ from the DuckDB closure's {len(want)}"]


def lookup_oracle(
    closure: np.ndarray, ids: list[int], downstream: bool, max_hops: int
) -> np.ndarray:
    """``impacted_by`` (downstream) / ``feeds_into`` rows from the oracle
    closure: ``(other_item, distance)`` within ``max_hops``.  Minimum
    distances up to ``max_hops`` do not depend on a larger cap."""
    key, other = (0, 1) if downstream else (1, 0)
    sel = closure[
        np.isin(closure[:, key], np.asarray(ids, dtype=np.int64)) & (closure[:, 2] <= max_hops)
    ]
    return sort_rows(sel[:, [other, 2]])


# --------------------------------------------------------- registry queries


def check_query(name: str, got, duck_con) -> list[str]:
    """Compare a query's collected rows (a pandas frame) with its DuckDB
    twin using the parity gate's own comparison
    (``tools/check_parity.compare``)."""
    from kachess_spark.registry import ORACLES
    from tools.check_parity import compare

    want = duck_con.execute(ORACLES[name]).df()
    return [f"{name}: {p}" for p in compare(name, got, want)]
