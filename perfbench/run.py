"""KG benchmark: one command, every end-to-end metric, output checks.

    python3 perfbench/run.py --workload build_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds nothing; it imports the
checkout's ``simkit_spark`` and ``__spark_entry__`` and drives them on
local[nproc] (one Spark session, one client, closed loop: the next
operation starts when the previous one ends). Everything it writes goes
under ``.perfbench_work/`` in the checkout.

Workloads (perfbench/README.md says why each exists):
  build_small  fresh run_pipeline over a 20,000-doc corpus with a
               200-entity vocabulary (link_entities takes its local
               path), then a rerun into the same warehouse in which
               every stage resumes.
  query_mix    18 __spark_entry__ queries over the sf0.01 testdata copy
               in perfbench/testdata, caches cleared before each pass,
               each output written to the noop sink.

--trace 0 prints the end-to-end metrics; --trace 1 runs one traced
operation and prints the per-layer metrics (perfbench/spans.py,
perfbench/layers.py). The last stdout line is the JSON result; earlier
lines are a readable log.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid
from contextlib import nullcontext
from pathlib import Path

# perfbench/ is on sys.path as the script's directory
import spans
from layers import FUNCTION_QUERIES, KG_QUERIES, OPERATOR_QUERIES, layer_of, per_layer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
RESULTS = WORK / "results"

# build_small: the historical headline shape; its ~600 distinct
# surfaces stay under link_entities' 20,000-row local_threshold
BUILD_DOCS, BUILD_ENTITIES, BUILD_SENTS = 20_000, 200, 5
LOCAL_THRESHOLD = 20_000
STAGES = ("mentions", "raw_triples", "surfaces", "entity_map",
          "triples", "nodes", "edges", "provenance")
MIN_PRF = 0.95

SF = "sf0.01"
# the four BENCH_r05 outliers the derived report follows
OUTLIERS = ("kg_rules", "events_temporal_reach", "kg_golden", "hll_distinct")

WORKLOADS = ("build_small", "query_mix")
DRIVER_MEM = "4g"


# -- process tree: peak RSS and clean exit ---------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        cur = todo.pop()
        for k in kids.get(cur, []):
            out.append(k)
            todo.append(k)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM, the PySpark daemon and its Python workers) every
    0.2 s and keeps the maximum."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._done.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._done.wait(0.2)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process
    this run started has ended."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# -- provenance and results ------------------------------------------------


def fs_type(path: Path) -> str:
    best, kind = "", "unknown"
    real = str(path.resolve())
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, typ = line.split()[:3]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def provenance(spark, nproc: int, warehouse: Path) -> dict:
    return {
        "nproc": nproc,
        "spark": spark.version,
        "python": platform.python_version(),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "warehouse_fs": fs_type(warehouse),
        "local_dir_fs": fs_type(WORK / "spark-local"),
        "sf": SF,
    }


def history(workload: str) -> list[dict]:
    path = RESULTS / f"{workload}.jsonl"
    if not path.exists():
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else None
        return {"n": len(values), "median": v, "q1": v, "q3": v}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3}


def derived_report() -> dict:
    """Not gated: medians and quartiles over every recorded untraced
    run, for the BENCH_r05 outliers, the pipeline rate, the geometric
    mean of operation walls and peak RSS."""
    report = {}
    mix = [r for r in history("query_mix") if not r["trace"]]
    if mix:
        report["query_mix_outliers_s"] = {
            q: quartiles([w for r in mix for w in r["query_walls"].get(q, [])])
            for q in OUTLIERS
        }
        report["query_geomean_s"] = quartiles([g for r in mix for g in r["query_geomean_s"]])
        report["query_mix_peak_rss_mb"] = quartiles([r["peak_rss_mb"] for r in mix])
    build = [r for r in history("build_small") if not r["trace"]]
    if build:
        report["build_small_docs_per_s"] = quartiles(
            [BUILD_DOCS / b for r in build for b in r["build_s"]]
        )
        report["build_small_stage_geomean_s"] = quartiles(
            [g for r in build for g in r["stage_geomean_s"]])
        report["build_small_resume_s"] = quartiles([x for r in build for x in r["resume_s"]])
        report["build_small_peak_rss_mb"] = quartiles([r["peak_rss_mb"] for r in build])
    return report


# -- build_small -----------------------------------------------------------


def traced_store_class():
    from simkit_spark.catalog import TableStore

    class TracedStore(TableStore):
        """TableStore whose stages and writes open spans. The stage span
        covers resume-or-compute; its children cover fn() and write."""

        def __init__(self, spark, warehouse, tracer):
            super().__init__(spark, warehouse)
            self.tracer = tracer

        def run_stage(self, name, fn, inputs=None, force=False, **write_kwargs):
            def traced_fn():
                with self.tracer.span(f"compute.{name}"):
                    return fn()

            with self.tracer.span(f"stage.{name}"):
                return super().run_stage(name, traced_fn, inputs, force, **write_kwargs)

        def write(self, df, name, **kw):
            with self.tracer.span(f"write.{name}"):
                return super().write(df, name, **kw)

    return TracedStore


class BuildSmall:
    """Fresh build, then a rerun that must resume every stage."""

    ops_per_pass = 2 * len(STAGES)

    def __init__(self, spark, seed: int):
        from simkit_spark.corpus import build_vocab, synthesize

        self.spark, self.seed = spark, seed
        vocab = build_vocab(BUILD_ENTITIES, seed)
        docs, truth = synthesize(spark, n_docs=BUILD_DOCS, n_entities=BUILD_ENTITIES,
                                 seed=seed, doc_sents=BUILD_SENTS)
        # production reads a table: generate once, outside the timed build
        self.docs = docs.localCheckpoint()
        self.truth = truth.localCheckpoint()
        self.alias_map = spark.createDataFrame(
            [(a, v["canonical"]) for v in vocab for a in v["aliases"]],
            "surface string, canonical string",
        )
        self.build_s, self.resume_s, self.op_geomean_s, self.stage_walls = [], [], [], []
        self.failures, self.checks = [], []
        self.hashes = self.prf = self.last = None

    def run_once(self, tracer=None) -> None:
        from simkit_spark.catalog import TableStore
        from simkit_spark.pipeline.run import PipelineConfig, run_pipeline

        warehouse = WORK / f"wh-{uuid.uuid4().hex}"
        store = (traced_store_class()(self.spark, str(warehouse), tracer)
                 if tracer else TableStore(self.spark, str(warehouse)))
        span = tracer.span if tracer else (lambda _name: nullcontext())
        timings: dict = {}
        t0 = time.perf_counter()
        with span("build"):
            out = run_pipeline(self.spark, self.docs, store, PipelineConfig(), timings=timings)
            out["triples"].count()
        build_s = time.perf_counter() - t0
        fresh = {s: store.manifest(s) for s in STAGES}
        t0 = time.perf_counter()
        with span("resume"):
            again = run_pipeline(self.spark, self.docs, store, PipelineConfig())
            again["triples"].count()
        resume_s = time.perf_counter() - t0
        rerun = {s: store.manifest(s) for s in STAGES}
        self.build_s.append(build_s)
        self.resume_s.append(resume_s)
        self.op_geomean_s.append(geomean([timings[s] for s in STAGES]))
        self.stage_walls.append(timings)
        self.last = {"warehouse": warehouse, "out": out, "timings": timings,
                     "fresh": fresh, "rerun": rerun, "build_s": build_s}

    def verify(self) -> None:
        from simkit_spark.pipeline.run import triple_prf

        out, fresh, rerun = self.last["out"], self.last["fresh"], self.last["rerun"]

        def check(ok: bool, what: str, failed_ops: int = 1):
            self.checks.append(what)
            if not ok:
                self.failures.append((what, failed_ops))

        surfaces = fresh["surfaces"]["row_count"]
        check(surfaces <= LOCAL_THRESHOLD,
              f"distinct surfaces {surfaces} <= {LOCAL_THRESHOLD} (local linking)")
        resumed = sum(fresh[s]["ts"] == rerun[s]["ts"] for s in STAGES)
        check(resumed == len(STAGES), f"rerun resumed {resumed}/{len(STAGES)} stages",
              len(STAGES) - resumed)
        same = [s for s in STAGES if fresh[s]["content_hash"] == rerun[s]["content_hash"]]
        check(len(same) == len(STAGES), "content_hash identical between build and resume",
              len(STAGES) - len(same))
        hashes = {s: fresh[s]["content_hash"] for s in STAGES}
        if self.hashes is None:
            self.hashes = hashes
            # every earlier run of this workload and seed must agree
            for rec in history("build_small"):
                if (rec["seed"], rec.get("docs"), rec.get("entities")) == (
                        self.seed, BUILD_DOCS, BUILD_ENTITIES) and rec.get("content_hashes"):
                    self.hashes = rec["content_hashes"]
                    break
        differ = [s for s in STAGES if hashes[s] != self.hashes[s]]
        check(not differ, f"content_hash identical across runs (differ: {differ})", len(differ))
        prf = triple_prf(out["triples"], self.truth, self.alias_map)
        self.prf = prf
        check(prf["precision"] >= MIN_PRF and prf["recall"] >= MIN_PRF,
              f"triple P/R {prf['precision']:.4f}/{prf['recall']:.4f} >= {MIN_PRF}")

    def cleanup(self) -> None:
        if self.last:
            shutil.rmtree(self.last["warehouse"], ignore_errors=True)

    def wall_s(self) -> float:
        return statistics.median(self.build_s)

    def record(self) -> dict:
        return {"build_s": self.build_s, "resume_s": self.resume_s,
                "stage_geomean_s": self.op_geomean_s, "stage_walls": self.stage_walls,
                "content_hashes": self.hashes, "prf": self.prf,
                "docs": BUILD_DOCS, "entities": BUILD_ENTITIES}


# -- query_mix -------------------------------------------------------------


def hashed(df):
    """Attach an order-independent content hash (row count + xor of
    row hashes, doubles rounded to 6 places) that rides the query's own
    write job, so checking an output costs no second pass."""
    from pyspark.sql import Observation, functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        (F.round(F.col(f.name), 6) if isinstance(f.dataType, (DoubleType, FloatType))
         else F.col(f.name)).cast("string")
        for f in df.schema.fields
    ]
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("c"),
                      F.bit_xor(F.xxhash64(*cols)).alias("h")), obs


class QueryMix:
    """One pass = clear the shared caches, rebuild the shared tables,
    then run every query once."""

    ops_per_pass = 3 + len(KG_QUERIES + OPERATOR_QUERIES + FUNCTION_QUERIES)

    def __init__(self, spark, seed: int):
        import __spark_entry__ as entry

        self.spark, self.entry = spark, entry
        self.sf_dir = str(HERE / "testdata" / SF)
        self.queries = entry.queries()
        with open(HERE / "pins.json") as f:
            self.pins = json.load(f)[SF]
        self.mix_s, self.op_geomean_s = [], []
        self.walls: dict[str, list[float]] = {}
        self.outputs: dict[str, dict] = {}
        self.failures, self.checks = [], []
        self.last = None
        # Python workers up before the first timed pass
        warm = self.spark.read.parquet(f"{self.sf_dir}/embeddings.parquet").limit(200)
        warm.mapInPandas(lambda it: it, warm.schema).write.format("noop").mode("overwrite").save()

    def run_once(self, tracer=None) -> None:
        e, spark, sf = self.entry, self.spark, self.sf_dir
        span = tracer.span if tracer else (lambda _name: nullcontext())
        for cache in (e._KG_REL_CACHE, e._KG_ENT_CACHE, e._KNN_TOPK_CACHE, e._PQ_BOOKS_CACHE):
            cache.clear()
        walls, observed = {}, {}
        t0 = time.perf_counter()
        with span("mix"):
            for name, build in (("kg.rel_build", e._kg_rel), ("kg.ent_build", e._kg_ent),
                                ("operators.knn_build", e._knn_topk)):
                t = time.perf_counter()
                with span(name):
                    build(spark, sf)
                walls[name] = time.perf_counter() - t
            for q in KG_QUERIES + OPERATOR_QUERIES + FUNCTION_QUERIES:
                t = time.perf_counter()
                try:
                    with span(f"{layer_of(q)}.{q}"):
                        df, obs = hashed(self.queries[q](spark, sf))
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - a failed query is a failed op
                    traceback.print_exc()
                    observed[q] = None
                    continue
                walls[q] = time.perf_counter() - t
                observed[q] = obs
        mix_s = time.perf_counter() - t0
        queries = [q for q in observed if observed[q] is not None]
        self.mix_s.append(mix_s)
        self.op_geomean_s.append(geomean([walls[q] for q in queries]))
        for name, w in walls.items():
            self.walls.setdefault(name, []).append(w)
        self.last = {"mix_s": mix_s, "walls": walls, "observed": observed}

    def verify(self) -> None:
        for q, obs in self.last["observed"].items():
            self.checks.append(f"{q} output hash")
            if obs is None:
                self.failures.append((f"{q} raised", 1))
                continue
            got = obs.get
            out = {"rows": int(got["c"]), "hash": str(got["h"] or 0)}
            self.outputs[q] = out
            if out != self.pins.get(q):
                self.failures.append((f"{q} output {out} != pinned {self.pins.get(q)}", 1))

    def cleanup(self) -> None:
        pass

    def wall_s(self) -> float:
        return statistics.median(self.mix_s)

    def record(self) -> dict:
        return {"query_mix_s": self.mix_s, "query_geomean_s": self.op_geomean_s,
                "query_walls": self.walls, "outputs": self.outputs}


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-6)) for v in values) / len(values))


# -- main ------------------------------------------------------------------

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_setup = time.perf_counter()
    rss = PeakRss()
    rss.start()
    nproc = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp", "results"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, str(ROOT))
    # the program under test; in a directory without it this raises and
    # the run exits non-zero before printing a result
    import __spark_entry__  # noqa: F401
    from simkit_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}"},
    )
    try:
        workload = (BuildSmall if args.workload == "build_small" else QueryMix)(spark, args.seed)
        setup_s = time.perf_counter() - t_setup
        print(f"# {args.workload} seed={args.seed} setup {setup_s:.2f} s", flush=True)
        if args.trace:
            metrics, spans_path = traced_pass(spark, workload, args)
            print(f"# spans written to {spans_path}", flush=True)
        else:
            t0 = time.perf_counter()
            while True:
                workload.run_once()
                workload.verify()
                workload.cleanup()
                if time.perf_counter() - t0 >= args.seconds:
                    break
        prov = provenance(spark, nproc, WORK)
    finally:
        stop_spark(spark)
    peak_mb = rss.stop()

    passes = len(workload.mix_s if args.workload == "query_mix" else workload.build_s)
    attempted = passes * workload.ops_per_pass
    failed = min(attempted, sum(n for _, n in workload.failures))
    for what, _ in workload.failures:
        print(f"# CHECK FAILED: {what}", flush=True)
    print(f"# {len(workload.checks)} checks, {len(workload.failures)} failed", flush=True)

    if not args.trace:
        metrics = {"setup_s": setup_s, "wall_s": workload.wall_s()}
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    else:
        metrics["session.peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "time": time.time(), "setup_s": setup_s, "peak_rss_mb": peak_mb,
              "provenance": prov, "failed": failed, "attempted": attempted,
              **workload.record()}
    with open(RESULTS / f"{args.workload}.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    with open(RESULTS / "report.json", "w") as f:
        json.dump({"provenance": prov, **derived_report()}, f, indent=1)
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}", flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def traced_pass(spark, workload, args):
    """One traced operation -> per-layer metrics (perfbench/layers.py).
    The status stores are read before the output checks run, so the
    checks' own jobs stay out of the numbers."""
    sc = spark.sparkContext
    tracer = spans.Tracer(sc)
    job0, exec0 = spans.last_job_id(sc), spans.last_execution_id(spark)
    workload.run_once(tracer)
    jobs = spans.read_jobs(sc, job0)
    stages = spans.read_stages(sc, jobs)
    owner = {jid: j["group"] for jid, j in jobs.items()}
    sql = spans.read_sql(spark, exec0, owner)
    untraced = [w for r in history(args.workload) if not r["trace"]
                for w in r.get("build_s", r.get("query_mix_s", []))]
    op_wall = workload.last.get("build_s", workload.last.get("mix_s"))
    metrics = per_layer(tracer, jobs, stages, sql, workload)
    metrics["session.geomean_s"] = (workload.op_geomean_s[-1], "s")
    metrics["trace.overhead_s"] = (
        (op_wall - statistics.median(untraced), "s") if untraced else (0.0, "s")
    )
    metrics["trace.untraced_runs"] = (len(untraced), "count")
    spans_path = RESULTS / f"{args.workload}-seed{args.seed}-spans.json"
    tracer.dump(str(spans_path), jobs)
    workload.verify()
    workload.cleanup()
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, spans_path


if __name__ == "__main__":
    sys.exit(main())
