"""Spans recorded around the program's public lineage and query functions.

``Tracer.install()`` wraps, by replacing module attributes, the functions
each layer is entered through; ``uninstall()`` puts the originals back.
Every span keeps its name, start, end, parent span and the id of the
operation (script, closure, lookup or query) it belongs to.  Spans stay in
memory; the workload turns them into per-layer numbers when it ends.

A span's self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict
from dataclasses import dataclass, field

from kachess_spark.lineage import closure, extractor, model, planjson

# (module, attribute, span name): the functions the extractor calls by
# module attribute, so replacing the attribute reaches every call
_WRAPPED = [
    (extractor, "preprocess", "preprocess.preprocess"),
    (extractor, "split_statements", "preprocess.split_statements"),
    (extractor, "rewrite_dialect", "preprocess.rewrite_dialect"),
    (extractor, "unsupported_reason", "preprocess.unsupported_reason"),
    (planjson, "parse_statement", "planjson.parse_statement"),
    (model, "frames", "model.frames"),
    (closure, "column_lineage", "closure.column_lineage"),
    (closure, "table_lineage", "closure.table_lineage"),
    (closure, "impacted_by", "closure.impacted_by"),
    (closure, "feeds_into", "closure.feeds_into"),
]


def _counter_cost(n: int = 100_000) -> float:
    """Seconds one call through the py4j counting wrapper adds."""
    counts: dict[str, int] = defaultdict(int)

    def send(*args, **kwargs):
        return None

    def counted(*args, **kwargs):
        counts["py4j.calls"] += 1
        return send(*args, **kwargs)

    t0 = time.perf_counter()
    for _ in range(n):
        send("c")
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        counted("c")
    return max(0.0, time.perf_counter() - t0 - bare) / n


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    error: bool = False

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    _stack: list[int] = field(default_factory=list)
    _op: int = 0
    _saved: list = field(default_factory=list)
    # time spent in the wrappers around the wrapped calls
    _book_s: float = 0.0
    # measured cost of one counted py4j command, without the command
    _py4j_call_s: float = 0.0

    # ------------------------------------------------------------ spans

    def new_op(self) -> None:
        self._op += 1

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self._op, parent, time.time()))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int, error: bool = False) -> None:
        sp = self.spans[idx]
        sp.end = time.time()
        sp.error = error
        self._stack.pop()
        if sp.parent is not None:
            self.spans[sp.parent].child_s += sp.dur

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        except BaseException:
            self.end(idx, error=True)
            raise
        self.end(idx)

    def wrap(self, name: str, fn):
        clock = time.perf_counter

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = clock()
            idx = self.begin(name)
            t1 = clock()
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                t2 = clock()
                self.end(idx, error=True)
                self._book_s += (t1 - t0) + (clock() - t2)
                raise
            t2 = clock()
            self.end(idx)
            self._count(name, out)
            self._book_s += (t1 - t0) + (clock() - t2)
            return out

        return traced

    def overhead_s(self) -> float:
        """Time the tracer itself added: wrapper bookkeeping plus the
        py4j command counter."""
        return self._book_s + self.counts["py4j.calls"] * self._py4j_call_s

    def _count(self, name: str, out) -> None:
        if name == "preprocess.split_statements":
            self.counts["lineage.preprocess.statements"] += len(out)
        elif name == "preprocess.unsupported_reason" and out:
            self.counts["lineage.preprocess.unsupported"] += 1

    # --------------------------------------------------------- patching

    def install(self, spark) -> None:
        for mod, attr, name in _WRAPPED:
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(name, orig))
        cls = extractor.LineageSession
        orig = cls.extract_script
        self._saved.append((cls, "extract_script", orig))
        cls.extract_script = self.wrap("extractor.extract_script", orig)
        # every py4j command the driver sends goes through this client
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        self._saved.append((client, "send_command", None))

        counts = self.counts

        def counted(*args, **kwargs):
            counts["py4j.calls"] += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._py4j_call_s = _counter_cost()

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._saved):
            if orig is None:
                delattr(obj, attr)  # back to the class method
            else:
                setattr(obj, attr, orig)
        self._saved.clear()

    # ---------------------------------------------------------- summary

    def self_by_name(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.self_s
        return dict(out)

    def total_by_name(self, top_level_only_of: tuple[str, ...] = ()) -> dict[str, float]:
        """Inclusive time per span name; for names in
        ``top_level_only_of`` only spans not nested in another span of
        those names count (a lookup's own closure is the lookup's)."""
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp.name in top_level_only_of and self._inside(
                sp, lambda n: n in top_level_only_of
            ):
                continue
            out[sp.name] += sp.dur
        return dict(out)

    def _inside(self, sp: Span, match) -> bool:
        """Whether an ancestor span's name satisfies ``match``."""
        p = sp.parent
        while p is not None:
            if match(self.spans[p].name):
                return True
            p = self.spans[p].parent
        return False

    def errors(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp.name == name and sp.error)

    def calls(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp.name == name)

    def windows(self, prefix: str) -> list[tuple[float, float]]:
        """(start, end) of outermost spans whose name starts with
        ``prefix``."""
        def match(n):
            return n.startswith(prefix)

        return [
            (sp.start, sp.end)
            for sp in self.spans
            if match(sp.name) and not self._inside(sp, match)
        ]
