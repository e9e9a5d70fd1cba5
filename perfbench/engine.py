"""One benchmark run inside a fresh engine process.

Started by ``perfbench/run.py`` as ``python3 perfbench/engine.py
<config.json>``. It sets the engine up, runs a cold pass and then warm
passes over the workload's queries, timing every call into the engine's
public API from outside, and checks each query's last result against its
DuckDB oracle after the timed part. On stdout it prints ``ready <epoch>``
once the session is warm, ``pass <id>`` as each pass starts, and
``timed_done`` after the last timed pass;
everything else it reports goes into the JSON file named by the config's
``out``.

With ``trace`` set, each query execution gets its own job group, and the
run reads Spark's status stores and a streaming-query listener after each
query to record the jobs, stages, SQL metrics and micro-batches it
caused. No engine file is changed; the records are kept in memory and
written with the result.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from spans import metric_value

#: SQL metrics of Python exec nodes (Spark 4.1 display names)
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_sent_b",
}
#: warm passes a run makes at least
MIN_WARM = 2


def _emit(*words) -> None:
    print(*words, flush=True)


def warm_up(spark, cores: int) -> None:
    """One JVM job and one Python-worker job, so the first timed query
    does not pay for executor and worker start."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.range(0, 1_000_000, numPartitions=cores).selectExpr("sum(id)").collect()

    @pandas_udf("long")
    def _identity(s):
        return s

    spark.range(0, 1000, numPartitions=1).select(_identity(F.col("id"))).write.mode(
        "overwrite"
    ).format("noop").save()


def _dir_snapshot(root: str) -> dict[str, tuple[int, int]]:
    snap = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


class Tracer:
    """Reads what one query execution did from Spark's own records."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        sc = spark.sparkContext
        jvm = sc._jvm
        self.sc = sc
        self.bus = sc._jsc.sc().listenerBus()
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__(
                "MODULE$"
            )
        )
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()
        self.events: list[dict] = []
        self.skip()

        events = self.events

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        return self._json(self.store.jobsList(None))

    def skip(self) -> None:
        """Forget what Spark recorded since the previous call, such as the
        work of set-up or of an untraced pass."""
        self.bus.waitUntilEmpty()
        jobs = self._jobs()
        self.last_job = max((j["jobId"] for j in jobs), default=-1)
        self.last_stage = max((s for j in jobs for s in j["stageIds"]), default=-1)
        self.sql_seen = self.sql.executionsCount()
        self.events.clear()

    def begin(self, span_id: str, name: str) -> None:
        self.sc.setJobGroup(span_id, name, False)

    def end(self) -> dict:
        """Everything Spark recorded since the previous call."""
        self.bus.waitUntilEmpty()
        jobs = [j for j in self._jobs() if j["jobId"] > self.last_job]
        self.last_job = max((j["jobId"] for j in jobs), default=self.last_job)
        # a job also lists the earlier stages it skipped; only stages
        # created since the previous call ran for this query
        job_of = {
            s: j["jobId"] for j in jobs for s in j["stageIds"] if s > self.last_stage
        }
        self.last_stage = max(job_of, default=self.last_stage)
        stages = []
        if job_of:
            for s in self._json(
                self.store.stageList(None, False, False, self._no_quantiles, self._no_status)
            ):
                if s["stageId"] in job_of and s.get("submissionTime") and s.get("completionTime"):
                    stages.append({
                        "id": f"{s['stageId']}.{s['attemptId']}",
                        "job": job_of[s["stageId"]],
                        "start": s["submissionTime"] / 1e3,
                        "end": s["completionTime"] / 1e3,
                        "tasks": s["numCompleteTasks"],
                        "run_s": s["executorRunTime"] / 1e3,
                        "cpu_s": s["executorCpuTime"] / 1e9,
                        "gc_s": s["jvmGcTime"] / 1e3,
                        "input_rows": s["inputRecords"],
                        "input_mb": s["inputBytes"] / 1e6,
                        "shuffle_read_mb": s["shuffleReadBytes"] / 1e6,
                        "shuffle_write_mb": s["shuffleWriteBytes"] / 1e6,
                        "spill_mb": s["diskBytesSpilled"] / 1e6,
                    })
        events = list(self.events)
        self.events.clear()
        return {
            "jobs": [
                {
                    "id": j["jobId"],
                    "group": j.get("jobGroup"),
                    "start": j["submissionTime"] / 1e3,
                    "end": (j.get("completionTime") or j["submissionTime"]) / 1e3,
                }
                for j in jobs
                if j.get("submissionTime")
            ],
            "stages": stages,
            "sql": self._sql_metrics(),
            "batches": events,
        }

    def _sql_metrics(self) -> dict:
        out = {"python_rows": 0.0, "scan_s": 0.0, "executions": 0}
        out.update({k: 0.0 for k in PYTHON_METRICS.values()})
        n = self.sql.executionsCount()
        execs = self.sql.executionsList(self.sql_seen, max(0, n - self.sql_seen))
        self.sql_seen = n
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            out["executions"] += 1
            values = self._json(self.sql.executionMetrics(eid))
            for node in self._json(self.sql.planGraph(eid).allNodes()):
                named = {m["name"]: values.get(str(m["accumulatorId"])) for m in node["metrics"]}
                for label, key in PYTHON_METRICS.items():
                    out[key] += metric_value(named.get(label))
                if "time to run Python workers" in named:
                    out["python_rows"] += metric_value(named.get("number of output rows"))
                out["scan_s"] += metric_value(named.get("scan time"))
        return out


def run_pass(spark, queries, sf_dir, tracer, pass_id: str, warehouse: str) -> tuple[dict, dict]:
    """Run every query once; return the pass record and the DataFrames."""
    rec = {"id": pass_id, "traced": tracer is not None, "queries": []}
    frames = {}
    before = None
    if tracer:
        tracer.skip()
        before = _dir_snapshot(warehouse)
    _emit("pass", pass_id)
    rec["start"] = time.time()
    for name, fn in queries:
        span_id = f"{pass_id}.{name}"
        q = {"name": name, "id": span_id}
        if tracer:
            tracer.begin(span_id, name)
        q["start"] = time.time()
        try:
            df = fn(spark, sf_dir)
            q["build_end"] = time.time()
            df.write.mode("overwrite").format("noop").save()
            q["end"] = time.time()
            frames[name] = df
        except Exception:
            q["end"] = time.time()
            q.setdefault("build_end", q["end"])
            q["error"] = traceback.format_exc(limit=3)[-2000:]
        if tracer:
            q.update(tracer.end())
        rec["queries"].append(q)
    rec["end"] = time.time()
    if tracer:
        after = _dir_snapshot(warehouse)
        rec["warehouse_write_b"] = sum(
            sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt)
        )
        rec["warehouse_b"] = sum(sz for sz, _ in after.values())
    return rec, frames


def _rows(sdf) -> list[tuple]:
    """The DataFrame's rows as tuples of the Python values ``collect()``
    gives. Numeric, string, boolean, date and zone-less timestamp columns
    convert to the same values through Arrow, which is several times
    faster; any other schema falls back to ``collect()``."""
    from pyspark.sql import types as T

    same = (T.NumericType, T.StringType, T.BooleanType, T.DateType, T.TimestampNTZType)
    if not all(isinstance(f.dataType, same) for f in sdf.schema.fields):
        return [tuple(r) for r in sdf.collect()]
    tbl = sdf.toArrow()
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols)) if cols else []


def check(root: str, sf_dir: str, frames: dict, names: list[str]) -> dict:
    """Compare each query's result with its DuckDB oracle using the
    repository checker's row count, column-name and value-hash rules."""
    import duckdb
    import pyarrow as pa

    sys.path.insert(0, os.path.join(root, "tools"))
    import check_correctness as cc

    from apache_beam_challange_spark.plans import registry

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        sdf = frames.get(name)
        if sdf is None:
            out[name] = ["no result to check"]
            continue
        try:
            scols = sdf.columns
            srows = _rows(sdf)
            if name not in registry.ORACLES:
                out[name] = [] if srows else ["zero rows (rows-only check)"]
                continue
            tbl = con.execute(registry.ORACLES[name]).arrow()
            ocols = tbl.schema.names
            orows = list(zip(*(c.to_pylist() for c in tbl.columns)))
            problems = []
            stypes = dict(sdf.dtypes)
            for field in tbl.schema:
                if stypes.get(field.name) in cc._SPARK_INTEGRAL and (
                    pa.types.is_decimal(field.type) or pa.types.is_floating(field.type)
                ):
                    problems.append(f"type: oracle {field.name} is {field.type}")
            if sorted(scols) != sorted(ocols):
                problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
            if len(srows) != len(orows):
                problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
            if not problems and cc.value_hash(srows, scols) != cc.value_hash(orows, ocols):
                problems.append("value-hash mismatch")
            out[name] = problems
        except Exception:
            out[name] = [traceback.format_exc(limit=3)[-2000:]]
    return out


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    root = cfg["root"]
    sys.path.insert(0, root)
    res: dict = {"setup": {}}
    st = res["setup"]

    t = time.time()
    from apache_beam_challange_spark.session import get_spark

    spark = get_spark("perfbench")
    st["start_s"] = time.time() - t
    t = time.time()
    from apache_beam_challange_spark.plans import registry

    registry.load_all()
    st["registry_load_s"] = time.time() - t
    cores = spark.sparkContext.defaultParallelism
    res["cores"] = cores
    t = time.time()
    warm_up(spark, cores)
    st["warmup_s"] = time.time() - t
    ready = time.time()
    _emit("ready", repr(ready))

    tracer = Tracer(spark) if cfg["trace"] else None
    queries = [(n, registry.QUERIES[n]) for n in cfg["queries"]]
    passes = []
    rec, frames = run_pass(spark, queries, cfg["sf_dir"], tracer, "cold", cfg["warehouse"])
    passes.append(rec)
    # a fixed number of warm passes, about ``seconds`` long on the host the
    # nominal pass time was taken on: a count that depended on this run's
    # speed would mix runs with and without a slower first warm pass.
    # The traced run alternates untraced and traced passes, so the same
    # run gives the tracing overhead.
    n_warm = max(MIN_WARM, round(cfg["seconds"] / cfg["pass_s"]))
    for i in range(n_warm * (2 if cfg["trace"] else 1)):
        traced = tracer if (cfg["trace"] and i % 2 == 1) else None
        rec, frames = run_pass(spark, queries, cfg["sf_dir"], traced, f"warm{i}", cfg["warehouse"])
        passes.append(rec)
    _emit("timed_done")
    res["ready"] = ready
    res["passes"] = passes
    t = time.time()
    res["checks"] = check(root, cfg["sf_dir"], frames, cfg["queries"])
    res["check_s"] = time.time() - t
    with open(cfg["out"], "w") as f:
        json.dump(res, f)
    # the parent stops the JVM and Python workers with the process group
    os._exit(0)


if __name__ == "__main__":
    main()
