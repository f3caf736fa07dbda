"""Seeded SQL-script corpora for the lineage workloads.

Two generators, each returning a ``Corpus``: the scripts, the ``Metastore``
of their base tables, the table-level parents every target table is
expected to have, and the markers of the statements planted to be skipped.

* ``ingest_corpus`` — wide and shallow: >= 1,000 scripts of 1-8
  statements over 4-40 columns, mixing joins with WHERE, CTEs, UNION ALL,
  GROUP BY ordinals, LATERAL VIEW, ``*`` in nested subqueries, CTAS,
  INSERT OVERWRITE ... PARTITION, multi-table insert, ``${hiveconf:}`` /
  ``${hivevar:}`` variables and Presto types that need the dialect shims.
  A fixed share of statements is unsupported or garbled.  Tables are at
  most three levels above the base tables, and the column graph stays
  well below ``closure.SMALL_GRAPH_EDGES``.
* ``deep_corpus`` — CTAS / INSERT OVERWRITE chains whose longest path is
  more than 20 hops, beside one-level marts over wide tables that carry
  most of the more than 50,000 distinct column edges, so closure takes its
  distributed branch and runs to ``max_hops``.

The same seed gives byte-identical scripts.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

from kachess_spark.lineage import Metastore

INGEST_SCRIPTS = 1_000
# every SKIP_EVERY-th statement slot is planted to be skipped (alternately
# an unsupported construct and a garbled statement)
SKIP_EVERY = 25
MAX_TIER = 3

# 10 chains x 12 levels x 40 columns (two hops per level: 24-hop paths)
# plus 360 one-level marts x 43 columns: ~56k distinct column edges, 12%
# over closure.SMALL_GRAPH_EDGES
DEEP_CHAINS = 10
DEEP_LEVELS = 12
DEEP_CHAIN_COLS = 40
DEEP_MARTS = 360
DEEP_MART_COLS = 43

_SCALAR_TYPES = ["bigint", "int", "string", "double", "boolean", "decimal(18,2)", "timestamp"]
# Presto column types Catalyst rejects until the dialect shims rewrite them
_PRESTO_TYPES = ["VARCHAR", "DOUBLE PRECISION", "REAL", "ARRAY(VARCHAR)", "ROW(k BIGINT, v VARCHAR)"]
_WORDS = ["amt", "cnt", "flag", "name", "code", "ts", "rate", "qty", "ref", "tag", "val", "key"]
_UNSUPPORTED = [
    "CREATE PROCEDURE refresh_{m}() BEGIN SELECT 1 END",
    "BEGIN TRANSACTION {m}",
    "DECLARE cur_{m} CURSOR FOR SELECT 1",
]
_GARBLED = [
    "SELECT FROM WHERE {m} ,, GROUP",
    "INSERT OVERWRITE TABLE ( SELECT {m} FROM",
    "SELECT a.x, FROM {m} JOIN ON",
]


@dataclass
class Script:
    name: str
    text: str = ""
    # target "schema.table" -> the tables it is read from
    parents: dict[str, set[str]] = field(default_factory=dict)
    skip_markers: list[str] = field(default_factory=list)
    statements: int = 0


@dataclass
class Corpus:
    metastore: Metastore
    scripts: list[Script]

    @property
    def expected_table_edges(self) -> set[tuple[str, str]]:
        return {
            (p, t) for s in self.scripts for t, ps in s.parents.items() for p in ps
        }

    @property
    def skip_markers(self) -> set[str]:
        return {m for s in self.scripts for m in s.skip_markers}

    @property
    def statements(self) -> int:
        return sum(s.statements for s in self.scripts)


@dataclass
class _Table:
    name: str  # schema.table
    cols: list[tuple[str, str]]  # (name, hive type), no partition column
    tier: int
    array_col: str | None = None


class _IngestGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.ms = Metastore()
        self.tables: list[_Table] = []
        self.n_out = 0
        self.n_skip = 0
        self.n_slot = 0
        self._widths: list[int] = []
        self._deck: list = []
        for i in range(48):
            schema = ("raw", "ods", "ref")[i % 3]
            ncol = self.rng.randint(6, 40)
            cols = [("id", "bigint"), ("ds", "string")]
            cols += [
                (f"{self.rng.choice(_WORDS)}_{j}", self.rng.choice(_SCALAR_TYPES))
                for j in range(ncol - 3)
            ]
            arr = None
            if i % 4 == 0:
                arr = "tags"
                cols.append((arr, "array<string>"))
            else:
                cols.append(("note", "string"))
            t = _Table(f"{schema}.t{i:02d}", cols, 0, arr)
            self.ms.register(schema, f"t{i:02d}", cols)
            self.tables.append(t)

    # ------------------------------------------------------------ helpers

    def _source(self, max_tier: int = MAX_TIER - 1, need_array: bool = False) -> _Table:
        pool = [
            t for t in self.tables
            if t.tier <= max_tier and (t.array_col or not need_array)
        ]
        # favour recent outputs a little so deeper tiers get used
        if len(pool) > 60 and self.rng.random() < 0.3:
            pool = pool[-60:]
        return self.rng.choice(pool)

    def _ncols(self, src: _Table) -> int:
        # 4-40 output columns, skewed small; drawn from shuffled decks of
        # the distribution's quantiles, so every seed asks for the same
        # widths in a different order
        if not self._widths:
            n = 200
            self._widths = [
                min(40, int(-5 * math.log(1 - (k + 0.5) / n)) + 4) for k in range(n)
            ]
            self.rng.shuffle(self._widths)
        return min(self._widths.pop(), len(src.cols))

    def _template(self, room: int):
        """Next template from a shuffled deck holding each template
        ``weight`` times, skipping those that emit more than ``room``
        statements."""
        for _ in range(2):
            for i, (fn, _, k) in enumerate(self._deck):
                if k <= room:
                    return self._deck.pop(i)[0]
            deck = [(fn, w, k) for fn, w, k in self._TEMPLATES for _ in range(w)]
            self.rng.shuffle(deck)
            self._deck += deck
        raise ValueError(f"no template emits at most {room} statements")

    def _pick(self, src: _Table, n: int) -> list[tuple[str, str]]:
        plain = [c for c in src.cols if c[0] != src.array_col]
        return self.rng.sample(plain, min(n, len(plain)))

    def _target(self, tier: int, cols: list[tuple[str, str]]) -> _Table:
        self.n_out += 1
        t = _Table(f"dw.out{self.n_out:05d}", cols, tier)
        self.tables.append(t)
        return t

    def _skip(self) -> tuple[str, str]:
        self.n_skip += 1
        marker = f"planted_skip_{self.n_skip:05d}"
        tmpl = self.rng.choice(_UNSUPPORTED if self.n_skip % 2 else _GARBLED)
        return tmpl.format(m=marker), marker

    # ---------------------------------------------------------- templates

    def _join_insert(self, s: Script) -> list[str]:
        a, b = self._source(), self._source()
        ca = self._pick(a, max(2, self._ncols(a) // 2))
        cb = self._pick(b, max(2, self._ncols(b) // 2))
        cols = [(f"o{j}", t) for j, (_, t) in enumerate(ca + cb)]
        tgt = self._target(max(a.tier, b.tier) + 1, cols)
        # Presto DDL only after the script's first statement: the CREATE
        # shims do not fire on a statement led by the commented-out
        # ``set`` lines (see CHANGES.md)
        presto = s.statements > 0 and self.rng.random() < 0.3
        ddl_cols = ", ".join(
            f"{c} {self.rng.choice(_PRESTO_TYPES) if presto and j % 3 == 1 else t.upper()}"
            for j, (c, t) in enumerate(cols)
        )
        sel = ", ".join(
            [f"a.{c} AS o{j}" for j, (c, _) in enumerate(ca)]
            + [f"b.{c} AS o{j + len(ca)}" for j, (c, _) in enumerate(cb)]
        )
        s.parents[tgt.name] = {a.name, b.name}
        return [
            f"CREATE TABLE IF NOT EXISTS {tgt.name} ({ddl_cols}) PARTITIONED BY (ds STRING)",
            f"INSERT OVERWRITE TABLE {tgt.name} PARTITION (ds='${{hiveconf:run_ds}}')\n"
            f"SELECT {sel}\nFROM {a.name} a JOIN {b.name} b ON a.id = b.id\n"
            f"WHERE a.id > ${{hiveconf:min_id}} AND b.ds = '${{hivevar:run_ds}}'",
        ]

    def _cte_ctas(self, s: Script) -> list[str]:
        a = self._source()
        ca = self._pick(a, self._ncols(a))
        names = ", ".join(c for c, _ in ca)
        tgt = self._target(a.tier + 1, [(c, t) for c, t in ca])
        s.parents[tgt.name] = {a.name}
        return [
            f"CREATE TABLE {tgt.name} AS\nWITH base AS (SELECT {names} FROM {a.name} "
            f"WHERE {ca[0][0]} IS NOT NULL),\nnarrow AS (SELECT * FROM base)\n"
            f"SELECT {names} FROM narrow"
        ]

    def _union_ctas(self, s: Script) -> list[str]:
        a, b = self._source(), self._source()
        n = min(self._ncols(a), len(b.cols) - 1, len(a.cols) - 1)
        ca, cb = self._pick(a, n), self._pick(b, n)
        n = min(len(ca), len(cb))
        ca, cb = ca[:n], cb[:n]
        tgt = self._target(max(a.tier, b.tier) + 1, [(f"u{j}", "string") for j in range(n)])
        s.parents[tgt.name] = {a.name, b.name}
        first = ", ".join(f"CAST({c} AS VARCHAR) AS u{j}" for j, (c, _) in enumerate(ca))
        second = ", ".join(f"CAST({c} AS VARCHAR)" for c, _ in cb)
        return [
            f"CREATE TABLE {tgt.name} AS\nSELECT {first} FROM {a.name}\n"
            f"UNION ALL\nSELECT {second} FROM {b.name}"
        ]

    def _group_ctas(self, s: Script) -> list[str]:
        a = self._source()
        keys = self._pick(a, self.rng.randint(1, 3))
        measure = self.rng.choice([c for c, _ in a.cols if c != a.array_col])
        sel = ", ".join(f"{c} AS k{j}" for j, (c, _) in enumerate(keys))
        ords = ", ".join(str(j + 1) for j in range(len(keys)))
        cols = [(f"k{j}", t) for j, (_, t) in enumerate(keys)] + [("n", "bigint"), ("m", "bigint")]
        tgt = self._target(a.tier + 1, cols)
        s.parents[tgt.name] = {a.name}
        return [
            f"CREATE TABLE {tgt.name} AS\nSELECT {sel}, count(*) AS n, "
            f"count(DISTINCT {measure}) AS m\nFROM {a.name}\nGROUP BY {ords}"
        ]

    def _lateral_ctas(self, s: Script) -> list[str]:
        a = self._source(max_tier=0, need_array=True)
        extra = self._pick(a, self._ncols(a) - 1)
        sel = ", ".join(f"t.{c}" for c, _ in extra)
        tgt = self._target(1, extra + [("tag", "string")])
        s.parents[tgt.name] = {a.name}
        return [
            f"CREATE TABLE {tgt.name} AS\nSELECT {sel}, tv.tag\n"
            f"FROM {a.name} t LATERAL VIEW explode(t.{a.array_col}) tv AS tag"
        ]

    def _star_ctas(self, s: Script) -> list[str]:
        a = self._source()
        ca = self._pick(a, self._ncols(a))
        names = ", ".join(c for c, _ in ca)
        tgt = self._target(a.tier + 1, list(ca))
        s.parents[tgt.name] = {a.name}
        return [
            f"CREATE TABLE {tgt.name} AS\nSELECT * FROM (\n  SELECT * FROM (\n"
            f"    SELECT {names} FROM {a.name} WHERE {ca[0][0]} IS NOT NULL\n"
            f"  ) q1\n) q2"
        ]

    def _multi_insert(self, s: Script) -> list[str]:
        a = self._source()
        c1, c2 = self._pick(a, self._ncols(a)), self._pick(a, self._ncols(a))
        t1 = self._target(a.tier + 1, [(f"o{j}", t) for j, (_, t) in enumerate(c1)])
        t2 = self._target(a.tier + 1, [(f"o{j}", t) for j, (_, t) in enumerate(c2)])
        s.parents[t1.name] = {a.name}
        s.parents[t2.name] = {a.name}
        out = []
        for t in (t1, t2):
            ddl = ", ".join(f"{c} {ty.upper()}" for c, ty in t.cols)
            out.append(f"CREATE TABLE IF NOT EXISTS {t.name} ({ddl})")
        out.append(
            f"FROM {a.name}\n"
            f"INSERT OVERWRITE TABLE {t1.name} SELECT {', '.join(c for c, _ in c1)}\n"
            f"INSERT OVERWRITE TABLE {t2.name} SELECT {', '.join(c for c, _ in c2)} "
            f"WHERE id > ${{hiveconf:min_id}}"
        )
        return out

    def _dashboard_select(self, s: Script) -> list[str]:
        a = self._source(max_tier=MAX_TIER)
        ca = self._pick(a, self._ncols(a))
        sel = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c, _ in ca)
        return [f"SELECT {sel}\nFROM {a.name}\nWHERE {ca[0][0]} IS NOT NULL\nLIMIT 100"]

    # (template, weight, statements it emits)
    _TEMPLATES = (
        (_join_insert, 3, 2),
        (_cte_ctas, 2, 1),
        (_union_ctas, 2, 1),
        (_group_ctas, 2, 1),
        (_lateral_ctas, 1, 1),
        (_star_ctas, 2, 1),
        (_multi_insert, 1, 3),
        (_dashboard_select, 3, 1),
    )

    def script(self, i: int, n: int) -> Script:
        """Script ``i`` of ``n`` statements."""
        s = Script(name=f"etl_{i:05d}.load")
        body = []
        while s.statements < n:
            self.n_slot += 1
            if self.n_slot % SKIP_EVERY == 0:
                stmt, marker = self._skip()
                s.skip_markers.append(marker)
                body.append(stmt)
                s.statements += 1
                continue
            stmts = self._template(n - s.statements)(self, s)
            body.extend(stmts)
            s.statements += len(stmts)
        head = [
            f"-- generated script {i}",
            "set run_ds=2024-01-01;",
            f"set min_id={self.rng.randint(0, 1000)};",
            "set hivevar:run_ds=2024-01-01;",
        ]
        s.text = "\n".join(head) + "\n" + ";\n".join(body) + ";\n"
        return s


def script_sizes(n_scripts: int) -> list[int]:
    """Statements per script, 1-8, geometric with mean ~1.8: the same
    counts for every seed, so seeds change content, not the amount of
    work."""
    q = math.exp(-1 / 1.2)
    share = [(1 - q) * q ** (k - 1) for k in range(1, 8)]
    share.append(1 - sum(share))
    counts = [int(n_scripts * p) for p in share]
    for k in sorted(range(8), key=lambda k: n_scripts * share[k] - counts[k])[
        : n_scripts - sum(counts)
    ]:
        counts[k] += 1
    return [k + 1 for k, c in enumerate(counts) for _ in range(c)]


def ingest_corpus(seed: int, n_scripts: int = INGEST_SCRIPTS) -> Corpus:
    gen = _IngestGen(seed)
    sizes = script_sizes(n_scripts)
    gen.rng.shuffle(sizes)
    scripts = [gen.script(i, n) for i, n in enumerate(sizes)]
    return Corpus(gen.ms, scripts)


def deep_corpus(seed: int) -> Corpus:
    """``DEEP_CHAINS`` scripts of ``DEEP_LEVELS`` chained tables (level
    ``l`` reads level ``l - 1``; levels alternate CTAS and CREATE + INSERT
    OVERWRITE), and ``DEEP_MARTS`` one-level CTAS scripts over wide base
    tables, which carry most of the edges."""
    rng = random.Random(seed)
    ms = Metastore()
    scripts = []

    def base(name: str, ncols: int) -> list[tuple[str, str]]:
        cols = [(f"{rng.choice(_WORDS)}_{j}", rng.choice(_SCALAR_TYPES[:4])) for j in range(ncols)]
        ms.register("src", name, cols)
        return cols

    for c in range(DEEP_CHAINS):
        cols = base(f"chain{c:03d}", DEEP_CHAIN_COLS)
        names = ", ".join(n for n, _ in cols)
        prev = f"src.chain{c:03d}"
        s = Script(name=f"chain_{c:03d}.build")
        body = []
        for lvl in range(DEEP_LEVELS):
            tgt = f"dw.c{c:03d}_l{lvl:02d}"
            if (lvl + c) % 2 == 0:
                body.append(f"CREATE TABLE {tgt} AS SELECT {names} FROM {prev}")
            else:
                ddl = ", ".join(f"{n} {t.upper()}" for n, t in cols)
                body.append(f"CREATE TABLE {tgt} ({ddl}) PARTITIONED BY (ds STRING)")
                body.append(
                    f"INSERT OVERWRITE TABLE {tgt} PARTITION (ds='2024-01-01') "
                    f"SELECT {names} FROM {prev}"
                )
            s.parents[tgt] = {prev}
            prev = tgt
        s.text = ";\n".join(body) + ";\n"
        s.statements = len(body)
        scripts.append(s)

    wide = [(f"src.wide{b:02d}", base(f"wide{b:02d}", DEEP_MART_COLS)) for b in range(16)]
    for m in range(DEEP_MARTS):
        src, cols = wide[m % len(wide)]
        names = ", ".join(n for n, _ in cols)
        tgt = f"mart.m{m:04d}"
        s = Script(name=f"mart_{m:04d}.build", statements=1)
        s.text = f"CREATE TABLE {tgt} AS SELECT {names} FROM {src} WHERE {cols[0][0]} IS NOT NULL;\n"
        s.parents[tgt] = {src}
        scripts.append(s)
    return Corpus(ms, scripts)
