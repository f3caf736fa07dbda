"""The benchmark's workloads.  Each is a closed loop with one client: an
operation starts only after the previous one has finished, and every
operation is timed from outside, around a call to the program's public
lineage functions or a ``registry.QUERIES`` entry.

Two workloads: ``lineage_ingest`` (the write side: scripts to lineage
frames) and ``lineage_impact`` (the read side: closure, impact lookups and
the lineage registry queries).  A workload has three phases:

* ``setup()`` — the untimed program work the timed part needs; the
  runner repeats it and reports the median CPU time as ``setup_s``;
* ``prepare()`` — once per process: the reference results the output
  checks compare against, and checks of the workload's own premise;
* ``run_pass()`` — one pass over the workload's operations, timed in wall
  and CPU seconds; the runner first runs ``WARMUP_PASSES`` untimed.
"""

from __future__ import annotations

import contextlib
import random
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, corpus
from perfbench.cpuclock import cpu_s

# registry queries over the lineage layer's frozen fixture: the same
# public closure functions on a metadata-sized graph (driver BFS branch)
REGISTRY = [
    "lineage_column_closure",
    "lineage_table_closure",
    "lineage_impact_analysis",
]
# closure's default hop cap, which the deep graph's paths exceed
MAX_HOPS = 20


@dataclass
class Op:
    name: str
    seconds: float
    start: float  # epoch seconds, to match Spark job times


@dataclass
class PassResult:
    ops: list[Op] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    # workload-specific figures, keyed by their end-to-end names
    figures: dict[str, float] = field(default_factory=dict)
    # per-layer counts measured outside the timed windows
    counts: dict[str, float] = field(default_factory=dict)
    # (start, end, CPU seconds of the program) of each timed window;
    # start and end are epoch seconds
    windows: list[tuple[float, float, float]] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return sum(o.seconds for o in self.ops)

    @property
    def cpu(self) -> float:
        return sum(w[2] for w in self.windows)


@contextlib.contextmanager
def cpu_window(res: PassResult):
    """Record the block as one of ``res.windows``."""
    t0, c0 = time.time(), cpu_s()
    try:
        yield
    finally:
        res.windows.append((t0, time.time(), cpu_s() - c0))


def timed(name: str, fn, *args) -> tuple[Op, object, str | None]:
    start = time.time()
    t0 = time.perf_counter()
    try:
        out = fn(*args)
    except Exception as exc:  # an operation that raises counts as failed
        return Op(name, time.perf_counter() - t0, start), None, f"{name}: {exc!r}"[:300]
    return Op(name, time.perf_counter() - t0, start), out, None


# -------------------------------------------------------------- lineage ingest


class LineageIngest:
    """>= 1,000 generated scripts through ``LineageSession.extract_script``,
    one at a time, then ``frames()`` materialized."""

    name = "lineage_ingest"
    WARM_SCRIPTS = 100
    # the JVM's JIT still takes ~30% more CPU on the first full pass than
    # on later ones; a pass is short, so one is run untimed
    WARMUP_PASSES = 1
    # constructs the corpus keeps out because the program mishandles them
    KNOWN_GAPS = [
        "Presto DDL is never a script's first statement: rewrite_dialect's "
        "CREATE shims and unsupported_reason's ^-anchored patterns miss a "
        "statement led by the commented-out set lines preprocess leaves"
    ]

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.corpus = corpus.ingest_corpus(seed)
        # same shape, other tables
        self.warm = corpus.ingest_corpus(seed + 7919, n_scripts=self.WARM_SCRIPTS)

    def setup(self) -> None:
        """Extract the warm corpus and build its frames, which also warms
        the parser and frame builder for the timed pass."""
        from kachess_spark.lineage import LineageSession

        sess = LineageSession(self.spark, self.warm.metastore)
        for s in self.warm.scripts:
            sess.extract_script(s.text)
        self.warm_frames = sess.frames()

    def prepare(self) -> None:
        # warm the Spark jobs that materialize the frames
        for df in self.warm_frames.values():
            df.count()

    def run_pass(self, tracer=None) -> PassResult:
        from kachess_spark.lineage import LineageSession

        res = PassResult()
        sess = LineageSession(self.spark, self.corpus.metastore)

        def materialize():
            frames = sess.frames()
            with tracer.span("model.materialize") if tracer else contextlib.nullcontext():
                for df in frames.values():
                    df.count()
            return frames

        with cpu_window(res):
            for s in self.corpus.scripts:
                sess.source_tag = s.name
                if tracer:
                    tracer.new_op()
                op, _, err = timed("script", sess.extract_script, s.text)
                res.ops.append(op)
                if err:
                    res.failures.append(err)
            if tracer:
                tracer.new_op()
            op, frames, err = timed("frames", materialize)
        extract_s = res.wall
        res.ops.append(op)
        if err:
            res.failures.append(err)
            return res
        lat = [o.seconds for o in res.ops if o.name == "script"]
        res.figures = {
            "ingest.wall_s": res.wall,
            "ingest.scripts_per_s": len(lat) / extract_s,
            "ingest.script_p50_ms": 1000 * float(np.percentile(lat, 50)),
            "ingest.script_p99_ms": 1000 * float(np.percentile(lat, 99)),
        }
        res.failures += checks.check_ingest(self.corpus, sess.skipped, frames)
        edges = checks.frame_rows(
            frames["select_item_rel"], ["parent_select_item_id", "child_select_item_id"]
        )
        res.counts = _graph_counts(sess, edges)
        return res


def _graph_counts(sess, edges: np.ndarray) -> dict[str, float]:
    """Graph size counts; ``edges`` are the distinct (parent, child)
    column pairs."""
    return {
        "lineage.extractor.datasets": len(sess.store.datasets),
        "lineage.extractor.select_items": len(sess.store.item_owner),
        "lineage.model.edges": len(np.unique(edges, axis=0)),
    }


# -------------------------------------------------------------- lineage impact


class LineageImpact:
    """The read side: closure and impact lookups over a deep graph that is
    extracted during set-up (> 50,000 column edges, longest path > 20
    hops, so closure runs its distributed branch up to ``max_hops``), then
    the lineage registry queries, whose graphs are small enough for the
    driver BFS branch."""

    name = "lineage_impact"
    # a pass is longer than a run's --seconds, so a run times exactly one;
    # an untimed one before it would double the run
    WARMUP_PASSES = 0
    LOOKUP_IDS = 5
    # lookups ask for the columns within this many hops; each still
    # rebuilds the whole graph's closure (to that depth) first
    LOOKUP_HOPS = 4

    def __init__(self, spark, seed: int, work_dir: str):
        from kachess_spark import registry

        registry.load_all()
        self.spark, self.seed, self.work_dir = spark, seed, work_dir
        self.queries = REGISTRY[:]
        random.Random(seed).shuffle(self.queries)

    def setup(self) -> None:
        from kachess_spark.lineage import LineageSession

        self.corpus = corpus.deep_corpus(self.seed)
        sess = LineageSession(self.spark, self.corpus.metastore)
        for s in self.corpus.scripts:
            sess.source_tag = s.name
            sess.extract_script(s.text)
        if sess.skipped:
            raise RuntimeError(f"deep corpus: {len(sess.skipped)} statements skipped")
        self.session = sess
        self.frames = sess.frames()
        self.rel = self.frames["select_item_rel"]
        self.dsrel = self.frames["dataset_rel"]

    def prepare(self) -> None:
        from kachess_spark.lineage import closure

        self.prepare_failures: list[str] = []
        self._check_queries()
        # warm the distributed closure's operators on a graph just over
        # the driver-BFS limit whose paths are two hops long
        n = closure.SMALL_GRAPH_EDGES // 2 + 1
        warm = [(3 * i, 3 * i + 1) for i in range(n)] + [(3 * i + 1, 3 * i + 2) for i in range(n)]
        closure.column_lineage(
            self.spark.createDataFrame(
                warm, "parent_select_item_id BIGINT, child_select_item_id BIGINT"
            )
        ).count()
        edges = checks.frame_rows(self.rel, ["parent_select_item_id", "child_select_item_id"])
        ds_edges = checks.frame_rows(self.dsrel, ["parent_dataset_id", "child_dataset_id"])
        self.want_column = checks.closure_oracle(edges)
        self.want_table = checks.closure_oracle(ds_edges)
        # the workload's premise: closure takes its distributed branch and
        # runs to the hop cap; a graph that stops doing so is a failure,
        # not a speed-up
        n_edges = len(np.unique(edges, axis=0))
        if n_edges <= closure.SMALL_GRAPH_EDGES:
            self.prepare_failures.append(
                f"deep graph has {n_edges} edges, not over {closure.SMALL_GRAPH_EDGES}"
            )
        reach = int(self.want_column[:, 2].max()) if len(self.want_column) else 0
        if reach < MAX_HOPS:
            self.prepare_failures.append(f"deep graph's closure reaches {reach} hops, not {MAX_HOPS}")
        rng = random.Random(self.seed)
        has_parent = set(edges[:, 1].tolist())
        has_child = set(edges[:, 0].tolist())
        roots = sorted(set(edges[:, 0].tolist()) - has_parent)
        sinks = sorted(set(edges[:, 1].tolist()) - has_child)
        self.lookups = [
            ("impacted_by", sorted(rng.sample(roots, self.LOOKUP_IDS))),
            ("feeds_into", sorted(rng.sample(sinks, self.LOOKUP_IDS))),
        ]
        rng.shuffle(self.lookups)
        self.counts = _graph_counts(self.session, edges)

    def _check_queries(self) -> None:
        """Run each registry query once (warming its shape) and compare its
        rows with the DuckDB twin; timed runs must then match the row
        count."""
        import duckdb

        from kachess_spark import registry

        self.query_rows: dict[str, int] = {}
        con = duckdb.connect()
        try:
            for name in self.queries:
                try:
                    pdf = registry.QUERIES[name](self.spark, self.work_dir).toPandas()
                except Exception as exc:  # counted as a failed check
                    self.prepare_failures.append(f"{name}: {exc!r}"[:300])
                    continue
                self.query_rows[name] = len(pdf)
                self.prepare_failures += checks.check_query(name, pdf, con)
        finally:
            con.close()

    def run_pass(self, tracer=None) -> PassResult:
        from kachess_spark.lineage import closure

        res = PassResult()
        ops = [
            ("column_lineage", closure.column_lineage, self.rel),
            ("table_lineage", closure.table_lineage, self.dsrel),
        ] + [
            (kind, getattr(closure, kind), self.rel, ids, self.LOOKUP_HOPS)
            for kind, ids in self.lookups
        ]
        outs = {}
        with cpu_window(res):
            for name, fn, *args in ops:
                if tracer:
                    tracer.new_op()

                def call():
                    df = fn(*args)
                    df.count()
                    return df

                op, df, err = timed(name, call)
                res.ops.append(op)
                if err:
                    res.failures.append(err)
                outs[name] = df
        fails, got_column = self._check(outs)
        res.failures += fails
        res.failures += self.prepare_failures
        self.prepare_failures = []  # the once-per-process checks count once
        with cpu_window(res):
            res.ops.append(self._queries(tracer, res.failures))
        secs = {o.name: o.seconds for o in res.ops}
        res.figures = {
            "impact.closure_s": secs["column_lineage"] + secs["table_lineage"],
            "impact.lookup_s": statistics.median(secs[k] for k, _ in self.lookups),
        }
        # closure figures from the program's own output
        res.counts = dict(
            self.counts,
            **{
                "lineage.closure.pairs": len(got_column),
                "lineage.closure.max_distance": int(got_column[:, 2].max()) if len(got_column) else 0,
            },
        )
        return res

    def _queries(self, tracer, failures: list[str]) -> Op:
        """The lineage registry queries, each forced with ``count()``, timed
        as one operation: each alone is under a second, too short to time
        steadily on a shared host."""
        from kachess_spark import registry

        if tracer:
            tracer.new_op()

        def call():
            rows = {}
            for name in self.queries:
                fn = registry.QUERIES[name]
                with tracer.span(f"query.{name}") if tracer else contextlib.nullcontext():
                    rows[name] = fn(self.spark, self.work_dir).count()
            return rows

        op, rows, err = timed("registry", call)
        if err:
            failures.append(err)
            return op
        failures += [
            f"{name}: {n} rows, the checked run had {self.query_rows.get(name)}"
            for name, n in rows.items()
            if n != self.query_rows.get(name)
        ]
        return op

    def _check(self, outs: dict) -> tuple[list[str], np.ndarray]:
        """Failure messages, and the rows of the program's column closure."""
        fails = []
        got_column = np.empty((0, 3), dtype=np.int64)
        if outs.get("column_lineage") is not None:
            got_column = checks.frame_rows(
                outs["column_lineage"],
                ["parent_select_item_id", "child_select_item_id", "distance"],
            )
            fails += checks.check_rows("column_lineage", got_column, self.want_column)
        if outs.get("table_lineage") is not None:
            got = checks.frame_rows(
                outs["table_lineage"], ["parent_dataset_id", "child_dataset_id", "distance"]
            )
            fails += checks.check_rows("table_lineage", got, self.want_table)
        for kind, ids in self.lookups:
            if outs.get(kind) is None:
                continue
            other = "impacted_item_id" if kind == "impacted_by" else "source_item_id"
            got = checks.frame_rows(outs[kind], [other, "distance"])
            want = checks.lookup_oracle(
                self.want_column, ids, kind == "impacted_by", self.LOOKUP_HOPS
            )
            fails += checks.check_rows(kind, got, want)
        return fails, got_column


WORKLOADS = {w.name: w for w in (LineageIngest, LineageImpact)}
