"""``pipelines`` workload: fixed lists of registered queries over generated
parquet tables (sf0.01 shape).  Each query is built and then run to the
noop sink, as bench.py does; the row count rides along on an Observation
of the same pass and must equal the count recorded in queries.json
(itself checked against the query's DuckDB oracle by record_counts.py).

op_a = ``iterative`` list (queries that run Spark jobs while building),
op_b = ``single_plan`` list (queries that run none).  A job's repetition
times each query of its list; the metric is the sum over the list of each
query's fastest build + action, so work moved from construction into the
action is not a regression.

The tables do not depend on ``--seed``; it only names the run.
"""

from __future__ import annotations

import gc
import io
import json
import os
import time

import pyarrow.parquet as pq

import gen
from common import maybe_span

QUERIES_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries.json")


def load_spec() -> dict:
    """The fixed query lists, table scale and recorded row counts."""
    with open(QUERIES_JSON) as f:
        return json.load(f)


def table_images(sf: float) -> dict[str, bytes]:
    """Each generated table as parquet file bytes."""
    out = {}
    for name, table in gen.pipeline_tables(sf).items():
        buf = io.BytesIO()
        pq.write_table(table, buf)
        out[name] = buf.getvalue()
    return out


class Pipelines:
    name = "pipelines"
    meaning = {"op_a_s": "iterative_s", "op_b_s": "single_plan_s"}

    def __init__(self, ctx):
        self.ctx = ctx
        spec = load_spec()
        self.lists = {"op_a": spec["iterative"], "op_b": spec["single_plan"]}
        self.expected = spec["expected_rows"]
        self.images = table_images(spec["sf"])
        self.digest = gen.digest(self.images[k] for k in sorted(self.images))
        self.tables = None
        self.layers: dict[str, dict] = {}
        from mongo_hadoop_spark import operators

        self.registry = operators.all_queries()

    def materialize(self, root: str) -> None:
        self.tables = root
        os.makedirs(root)
        for name, data in self.images.items():
            with open(os.path.join(root, f"{name}.parquet"), "wb") as f:
                f.write(data)

    def prime(self, spark) -> None:
        """First touch, as bench.py's warm-up: every table loaded through
        the program's ``table()`` and counted."""
        from mongo_hadoop_spark.session import table

        for name in self.images:
            table(spark, self.tables, name).count()

    # --- one query: build, then action ---------------------------------------

    def run_query(self, q: str, rep: int) -> float:
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        spark, tracer = self.ctx.spark, self.ctx.tracer
        sc = spark.sparkContext
        groups = (f"{q}.build.{rep}", f"{q}.exec.{rep}")
        obs = Observation()
        if tracer:
            sc.setJobGroup(groups[0], q)
        t0 = time.perf_counter()
        with maybe_span(tracer, f"{q}.build", rep):
            df = self.registry[q](spark, self.tables)
        t1 = time.perf_counter()
        if tracer:
            sc.setJobGroup(groups[1], q)
            t1 = time.perf_counter()
        with maybe_span(tracer, f"{q}.exec", rep):
            (df.observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
        t2 = time.perf_counter()
        rows = obs.get["n"]
        if self.ctx.corrupt:
            rows += 1
        self.ctx.check(rows == self.expected[q],
                       f"{q} rep {rep}: {rows} rows != {self.expected[q]}")
        if tracer:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._record_layers(q, groups, t1 - t0, t2 - t1)
        del df
        gc.collect()
        return t2 - t0

    def _record_layers(self, q: str, groups, build_s: float, exec_s: float) -> None:
        st = self.ctx.spark.sparkContext.statusTracker()
        build_jobs = st.getJobIdsForGroup(groups[0])
        exec_jobs = st.getJobIdsForGroup(groups[1])
        rec = self.layers.setdefault(q, {"build_s": [], "exec_s": []})
        rec["build_s"].append(build_s)
        rec["exec_s"].append(exec_s)
        rec["build_jobs"] = len(build_jobs)
        rec["exec_jobs"] = len(exec_jobs)
        rec["shuffle_write_bytes"] = self._shuffle_bytes(st, exec_jobs)

    def _shuffle_bytes(self, st, job_ids) -> int:
        store = self.ctx.spark.sparkContext._jsc.sc().statusStore()
        total = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                try:
                    total += store.lastStageAttempt(sid).shuffleWriteBytes()
                except Exception:  # noqa: BLE001 -- stage skipped by AQE
                    pass
        return total

    # --- jobs ------------------------------------------------------------------

    def _pass(self, names):
        def job(rep: int) -> dict:
            return {q: self.run_query(q, rep) for q in names}

        return job

    def jobs(self) -> dict:
        return {k: self._pass(v) for k, v in self.lists.items()}

    def layer_metrics(self) -> dict:
        """Per-query layer numbers from the traced passes; when the traced
        run belongs to another workload, one traced pass runs here (cold:
        its times are higher than a pipelines traced run's, its counts the
        same)."""
        if not self.layers:
            for job in self.jobs().values():
                job(0)
        out = {}
        for q, rec in self.layers.items():
            out[f"{q}.build_s"] = (min(rec["build_s"]), "s")
            out[f"{q}.exec_s"] = (min(rec["exec_s"]), "s")
            out[f"{q}.build_jobs"] = (rec["build_jobs"], "count")
            out[f"{q}.exec_jobs"] = (rec["exec_jobs"], "count")
            out[f"{q}.shuffle_write_bytes"] = (rec["shuffle_write_bytes"], "bytes")
        return out
