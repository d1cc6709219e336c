"""Benchmark of the transcript -> KG pipeline (``plans.pipeline.run_pipeline``).

    python3 perfbench/run.py --workload kg_agent --seed 1 --seconds 5 --trace 0

One process measures what one ``spark-submit`` of the pipeline pays:
start a ``local[<cores>]`` session sized for the machine (set-up), then
make one fresh ``resume=False`` pipeline run in it (timed). That run takes
23-60 s on 4 cores, longer than any ``--seconds`` the benchmark declares,
so the timed window always holds exactly one run. Its triple set is
checked against the oracle's. Times are unstolen times: wall time less
the share of CPU time the host gave to other guests (probes.Stopwatch). ``--trace 1`` follows the first run with a
warm untraced run and a traced run that times each layer (see traced.py),
and reports per-layer metrics instead.

Progress goes to stderr; the last stdout line is the JSON result
{"correct", "attempted", "failed", "metrics"}. Everything the run writes
stays under perfbench/_work/. Metric names and how to read the trace:
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# The program's 64 extraction buckets (its lineage/resume granularity) are
# sized for warehouse-scale input. On the benchmark's inputs they split a
# few MB of extraction output into 64 partition directories, and that
# write alone took 5.6-8.0 s of a 26-36 s traced run (21-22%, 4 cores,
# larger versions of kg_agent and kg_vocab), more than ingest or extract.
# 16 buckets keep the write in proportion to the input, as a caller would
# with ``--buckets``.
N_BUCKETS = 16
# The inputs are ~50x smaller than the contract-scale sizing, so the
# driver-link venue limit (default 100k norms) is scaled down with them:
# kg_chat and kg_agent (~50 norms) stay on the driver, kg_vocab (~1.5k
# norms) links distributed -- the same venue split as at full size.
DRIVER_LINK_MAX = 1_000
# Class-data archive of the gateway JVM (see build_class_archive).
CLASS_ARCHIVE = os.path.join(WORK, "spark-classes.jsa")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def confine_to_checkout() -> None:
    """Point every temp/scratch location of Python, the JVM and Spark into
    WORK, and let the Python workers import the package from ROOT."""
    tmp = os.path.join(WORK, "tmp")
    conf = os.path.join(WORK, "conf")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(conf, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        # the conf dir is on the JVM's class path, and a class-data archive
        # accepts only empty directories there
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def box_config() -> dict:
    """Session sizing for this machine (printed with every run)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(24, mem_kb // (4 * 1024 * 1024)))  # a quarter of RAM
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": 4 * cores,
        "n_buckets": N_BUCKETS,
        "driver_memory": f"{heap_gb}g",
        "driver_link_max": DRIVER_LINK_MAX,
    }


def start_session(box: dict, java_opts: str = f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"):
    """Spark session sized by ``box``; by default its JVM maps the class
    archive that ``build_class_archive`` made."""
    from mongo2neo_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=box["master"],
        shuffle_partitions=box["shuffle_partitions"],
        extra_confs={
            "spark.driver.memory": box["driver_memory"],
            # make the whole heap resident at launch, so peak RSS does not
            # depend on how far GC timing let the heap spread by then
            "spark.driver.extraJavaOptions":
                f"-Xms{box['driver_memory']} -XX:+AlwaysPreTouch {java_opts}",
            "spark.driver.host": "localhost",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # keep every job, stage and plan of the process in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    import probes

    proc = SparkContext._gateway.proc
    workers = probes.live_descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    for pid in workers:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def build_class_archive(box: dict) -> None:
    """Make CLASS_ARCHIVE: a session whose JVM dumps the classes it loaded
    when it exits, after one pipeline run on each workload's seed-0 input
    (the same inputs whichever workload runs first). Sessions that map the
    archive load Spark's classes from it instead of from ~300 jars: in one
    measurement on 4 cores that halved the session start and took ~15% off
    a session's first pipeline run. Runs in a process of its own
    (class_archive.py), because the program's UDF objects stay bound to
    the first gateway JVM of a process."""
    from mongo2neo_spark.plans.pipeline import PipelineConfig, run_pipeline

    import probes
    import workloads

    inputs = [workloads.prepare(WORK, w, 0)["input"] for w in ("kg_agent", "kg_vocab")]
    tmp = CLASS_ARCHIVE + ".tmp"
    spark = start_session(box, java_opts=f"-XX:ArchiveClassesAtExit={tmp}")
    try:
        for path in inputs:
            run_pipeline(spark, path, os.path.join(WORK, "out", "archive"),
                         PipelineConfig(n_buckets=box["n_buckets"],
                                        driver_link_max=box["driver_link_max"]),
                         resume=False)
        # the status-store reads of a run's check load the REST API's classes
        probes.StatusStore(spark).group_plans_contain("", "LeftAnti")
        probes.StatusStore(spark).group_totals("")
    finally:
        stop_session(spark)  # the JVM writes the archive as it exits
    os.replace(tmp, CLASS_ARCHIVE)


class Session:
    """A fresh Spark session with its probes; ``start`` times its start."""

    def __init__(self, box: dict):
        self.box = box

    def __enter__(self):
        from pyspark import SparkContext

        import probes

        with probes.Stopwatch() as self.start:
            self.spark = start_session(self.box)
        try:
            self.store = probes.StatusStore(self.spark)
            self.sampler = probes.RssSampler(SparkContext._gateway.proc.pid).__enter__()
        except BaseException:
            stop_session(self.spark)
            raise
        log(f"session started in {self.start.wall_s:.3f} s wall, "
            f"{self.start.unstolen_s:.3f} s unstolen")
        return self

    def __exit__(self, *exc):
        t0 = time.monotonic()
        self.sampler.__exit__(*exc)
        stop_session(self.spark)
        log(f"session stopped in {time.monotonic() - t0:.1f} s")
        return False


class Runner:
    """Fresh pipeline runs, each checked against the oracle."""

    def __init__(self, box: dict, data: dict):
        self.box = box
        self.data = data
        self.attempted = 0
        self.failed = 0
        # (dedup strategy, node rows, edge rows) of the first good run on
        # this (workload, seed), kept with the input so that it also holds
        # across processes
        self.repeat_path = os.path.join(os.path.dirname(data["input"]), "repeat.json")
        self.repeat = None
        if os.path.exists(self.repeat_path):
            with open(self.repeat_path) as f:
                self.repeat = tuple(json.load(f))

    def config(self, **kw):
        from mongo2neo_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(n_buckets=self.box["n_buckets"],
                              driver_link_max=self.box["driver_link_max"], **kw)

    def run(self, s: Session, out_dir: str):
        """One fresh run in session ``s``. Returns {wall_s, unstolen_s,
        peak_rss_mb, shuffle_write_mb} or None when it raised or its output
        is wrong."""
        from mongo2neo_spark.plans.pipeline import run_pipeline

        import probes

        sc = s.spark.sparkContext
        self.attempted += 1
        group = f"run-{self.attempted}"
        shutil.rmtree(out_dir, ignore_errors=True)
        try:
            sc.setJobGroup(group, "pipeline run")
            s.sampler.take_peak()
            with probes.Stopwatch() as sw:
                paths = run_pipeline(s.spark, self.data["input"], out_dir, self.config(),
                                     resume=False)
            peak = s.sampler.take_peak()
            t_check = time.monotonic()
            # the adaptive dedup is the only plan with an anti join
            adaptive = s.store.group_plans_contain(group, "LeftAnti")
            problem = self.check(paths, "adaptive" if adaptive else "shuffle")
        except Exception:
            traceback.print_exc()
            problem = "raised"
        if problem:
            self.failed += 1
            log(f"run {self.attempted}: FAILED ({problem})")
            return None
        shuffle = s.store.group_totals(group)["shuffle_write_mb"]
        log(f"run {self.attempted}: {sw.wall_s:.3f} s wall, {sw.unstolen_s:.3f} s unstolen, "
            f"cpu {sw.cpu_s:.1f} s, steal {sw.steal_s:.1f} s, {shuffle:.2f} MB shuffled, "
            f"peak {peak:.0f} MB (checked in {time.monotonic() - t_check:.1f} s)")
        return {"wall_s": sw.wall_s, "unstolen_s": sw.unstolen_s, "peak_rss_mb": peak,
                "shuffle_write_mb": shuffle}

    def check(self, paths: dict, strategy: str) -> str:
        """'' when the output is right, else what is wrong. The output
        tables are read with pyarrow, so the check starts no Spark job."""
        import pyarrow.parquet as pq

        want = self.data["triples"]
        got = set(zip(*pq.read_table(paths["triples"]).to_pydict().values()))
        if got != want:
            return (f"triples differ from the oracle: {len(got - want)} extra, "
                    f"{len(want - got)} missing")
        nodes, edges = (pq.read_table(paths[t], columns=[]).num_rows for t in ("nodes", "edges"))
        if edges != len(got):
            return f"{edges} edge rows for {len(got)} distinct triples"
        if self.repeat is None:
            self.repeat = (strategy, nodes, edges)
            with open(self.repeat_path, "w") as f:
                json.dump(self.repeat, f)
            log(f"{strategy} dedup, nodes {nodes} rows, edges {edges} rows")
        elif (strategy, nodes, edges) != self.repeat:
            return (f"(dedup, nodes, edges) {(strategy, nodes, edges)} differ from "
                    f"the first run's {self.repeat}")
        return ""


def stage_walls(spark, out_dir: str) -> dict:
    """stage.<name>_s from the program's lineage table. Every extract row
    carries the whole stage's wall_ms, so take the max, never the sum."""
    from pyspark.sql import functions as F

    from mongo2neo_spark.plans import lineage as lin

    rows = (lin.read_lineage(spark, out_dir).groupBy("stage")
            .agg(F.max("wall_ms").alias("ms")).collect())
    return {f"stage.{r.stage}_s": r.ms / 1e3 for r in rows}


def traced_metrics(s: Session, runner: Runner, box: dict, first: dict, out: str,
                   args) -> dict:
    """Per-layer metrics of session ``s``, whose first run ``first`` was
    made into ``out``: a warm untraced run, then the traced run, then a
    ``resume=True`` re-run over the traced run's finished output."""
    from mongo2neo_spark.plans.pipeline import run_pipeline

    import traced

    spark, sc = s.spark, s.spark.sparkContext
    warm = runner.run(s, out)
    if warm is None:
        raise RuntimeError("the warm untraced run failed")
    sc.setJobGroup(traced.STATS_GROUP, "benchmark counts")
    m = stage_walls(spark, out)
    m["session.warmup_s"] = first["wall_s"] - warm["wall_s"]
    tr = traced.Tracer(spark, s.store, sc._gateway.proc.pid,
                       f"{args.workload}-{args.seed}")
    traced_out = os.path.join(WORK, "out", "traced")
    shutil.rmtree(traced_out, ignore_errors=True)
    runner.attempted += 1
    # the traced run takes the strategy the program chose in the untraced runs
    strategy = runner.repeat[0]
    counts = traced.traced_pipeline(spark, tr, runner.data["input"], traced_out,
                                    runner.config(dedup_strategy=strategy))
    traced_wall = sum(sp["wall_s"] for sp in tr.spans)
    sc.setJobGroup(traced.STATS_GROUP, "benchmark counts")
    got = {tuple(r) for r in spark.read.parquet(f"{traced_out}/triples").collect()}
    if got != runner.data["triples"]:
        runner.failed += 1
        log("traced run: FAILED (triples differ from the untraced run's)")
    t1 = time.monotonic()
    run_pipeline(spark, runner.data["input"], traced_out, runner.config(), resume=True)
    m["lineage.noop_rerun_s"] = time.monotonic() - t1
    tr.collect_counters()
    m.update(traced.layer_metrics(tr, counts, box["cores"]))
    m["ingest.adaptive"] = int(strategy == "adaptive")
    m["trace.overhead_s"] = traced_wall - warm["wall_s"]
    m["session.start_s"] = s.start.wall_s
    path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"first_wall_s": first["wall_s"], "untraced_wall_s": warm["wall_s"],
                   "traced_wall_s": traced_wall, "spans": tr.spans}, f, indent=1)
    log(f"spans written to {path}")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_proc = time.monotonic()
    confine_to_checkout()

    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    box = box_config()
    log("session: " + json.dumps(box))
    data = workloads.prepare(WORK, args.workload, args.seed)
    log(f"{args.workload} seed {args.seed}: {data['turns']} turns, "
        f"{len(data['triples'])} oracle triples ({time.monotonic() - t_proc:.1f} s in)")
    out = os.path.join(WORK, "out", "run")
    runner = Runner(box, data)
    if not os.path.exists(CLASS_ARCHIVE):  # once per checkout
        t0 = time.monotonic()
        subprocess.run([sys.executable, os.path.join(HERE, "class_archive.py")], check=True)
        log(f"class archive built in {time.monotonic() - t0:.1f} s")

    if args.trace:
        with Session(box) as s:
            first = runner.run(s, out)
            if first is None:
                raise RuntimeError("the first run failed")
            m = traced_metrics(s, runner, box, first, out, args)
    else:
        # one run: it outlasts --seconds (see the module docstring)
        with Session(box) as s:
            setup_s = s.start.unstolen_s
            r = runner.run(s, out)
        if r is None:
            raise RuntimeError("the pipeline run failed")
        m = {
            "turns_per_s": data["turns"] / r["unstolen_s"],
            "pipeline_s": r["unstolen_s"],
            "setup_s": setup_s,
            "shuffle_write_mb": r["shuffle_write_mb"],
            "peak_rss_mb": r["peak_rss_mb"],
        }

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {d["name"]: d["unit"] for d in declared}
    if set(units) != set(m):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(m))}")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
