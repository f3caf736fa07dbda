"""Batch lineage runner over a directory of .sql scripts.

Mirrors BatchProcessor (sql_lineage/.../BatchProcessor.java:106-164): list
``*.sql``, infer per-file provenance from the filename (Airflow
``DAG_ID.TASK_ID`` / dashboard URL — ParsingTask.inferContext:299-313),
extract each, route to parsed/ or skipped/ on success/failure
(ParsingTask.run:232-286).

Scale note: parsing is driver-CPU-bound metadata work (the reference uses
``--num-parallel`` Java threads, :151-163); Spark executors bring nothing
to a py4j-bound parse loop, so ``run_batch`` extracts the files one after
another, in sorted order, on the driver through one JVM parser (one
session, so IDs stay deterministic), and reserves the cluster for the
closure/consumption queries, which ARE data-sized.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from kachess_spark.lineage.extractor import LineageSession
from kachess_spark.lineage.metastore import Metastore


@dataclass
class BatchResult:
    parsed: list[str] = field(default_factory=list)
    skipped: dict[str, str] = field(default_factory=dict)
    session: LineageSession | None = None

    def frames(self) -> dict[str, DataFrame]:
        assert self.session is not None
        return self.session.frames()


def infer_source_tag(filename: str) -> str:
    """Airflow convention ``DAG_ID.TASK_ID.sql`` → ``DAG_ID.TASK_ID``
    (ParsingTask.inferContext:299-313; ops-DB lookup replaced by the
    filename convention itself)."""
    base = os.path.basename(filename)
    return base[:-4] if base.endswith(".sql") else base


def run_batch(
    spark: SparkSession,
    sql_dir: str,
    metastore: Metastore | None = None,
    seed: int = 1000,
    lenient: bool = True,
    route_files: bool = False,
) -> BatchResult:
    """Parse every ``*.sql`` under ``sql_dir`` into ONE lineage session
    (deterministic file order ⇒ deterministic IDs).

    ``route_files=True`` reproduces the reference's parsed/ & skipped/
    directory routing; default leaves inputs untouched.
    """
    files = sorted(
        os.path.join(sql_dir, f) for f in os.listdir(sql_dir) if f.endswith(".sql")
    )
    session = LineageSession(
        spark, metastore or Metastore(), seed=seed, lenient=lenient
    )
    result = BatchResult(session=session)
    parsed_dir = os.path.join(sql_dir, "parsed")
    skipped_dir = os.path.join(sql_dir, "skipped")
    if route_files:
        os.makedirs(parsed_dir, exist_ok=True)
        os.makedirs(skipped_dir, exist_ok=True)

    for path in files:
        session.source_tag = infer_source_tag(path)
        before = len(session.skipped)
        try:
            with open(path) as fh:
                session.extract_script(fh.read())
            hard_fail = False
        except Exception as exc:  # resolution errors in strict mode
            session.warnings.append(f"{path}: {exc}")
            hard_fail = True
        new_skips = session.skipped[before:]
        if hard_fail or len(new_skips) > 0:
            reason = new_skips[0][1] if new_skips else "extraction error"
            result.skipped[path] = reason
            if route_files:
                shutil.copy2(path, skipped_dir)
        else:
            result.parsed.append(path)
            if route_files:
                shutil.copy2(path, parsed_dir)
    session.close()
    return result
