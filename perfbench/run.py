"""kgx benchmark: run_pipeline passes on a large knowledge base and an
open-loop stream, with correctness checks and an optional per-layer trace.

    python3 perfbench/run.py --workload batch_bigkb --seed 1 --seconds 6 --trace 0

Run from the repository root. Prints a human-readable detail line, then as
its last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json; with --trace 1 the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# batch_bigkb: synthetic KB over the Aho-Corasick threshold, 4k-turn corpus
KB_ENTITIES = 3000
BATCH_CONVS = 200
BATCH_FILES = 4
# stream_openloop: 20 conversations/s of 20 turns, one file every 2 s
STREAM_RATE = 20.0
STREAM_PERIOD = 2.0
DRAIN_TIMEOUT_S = 90.0
ORACLE_SAMPLE = 40  # conversations checked against tests/oracle.py
TRACE_REF_DEADLINE_S = 150.0  # latest end of a traced run's warm reference pass

END_TO_END_UNITS = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "fresh_p50_s": "s",
    "fresh_p90_s": "s",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "assemble.admit_s": "s",
    "linking.dims_s": "s",
    "linking.gazetteer_rows": "count",
    "mentions.summary_s": "s",
    "mentions.summary_turns_per_s": "turns/s",
    "mentions.evidence_s": "s",
    "mentions.hit_frac": "ratio",
    "relations.facts_s": "s",
    "relations.facts_out": "count",
    "aggregate.triples_s": "s",
    "aggregate.triples_out": "count",
    "canonical.canonicalize_s": "s",
    "canonical.nodes_in": "count",
    "canonical.merge_frac": "ratio",
    "materialize.write_s": "s",
    "materialize.bytes_out": "bytes",
    "materialize.files_out": "count",
    "lineage.record_s": "s",
    "job.extract_s": "s",
    "job.triples_s": "s",
    "job.nodes_s": "s",
    "job.analytics_s": "s",
    "job.unaccounted_s": "s",
    "job.spark_jobs": "count",
    "job.tasks": "count",
    "job.failed_tasks": "count",
    "stream_job.batches": "count",
    "stream_job.batch_s_p50": "s",
    "stream_job.add_batch_s_p50": "s",
    "stream_job.overhead_s_p50": "s",
    "stream_job.files_per_batch": "count",
    "stream_job.backlog_files_max": "count",
    "stream_job.failed_batches": "count",
    "bench.gen_late_s_max": "s",
    "bench.steal_frac": "ratio",
    "bench.loadavg": "procs",
    "bench.trace_overhead_s": "s",
}


def _require_checkout() -> None:
    if not os.path.isfile(os.path.join(ROOT, "kgx", "job.py")):
        sys.exit(f"perfbench: no kgx package under {ROOT}; run from a kgx checkout")


def _env() -> None:
    """Spark's Python workers import kgx and the perfbench modules by path,
    and Spark's scratch space stays inside the checkout."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    sys.path[:0] = [ROOT, HERE]


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args) -> None:
        import procstat

        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.sampler = procstat.TreeSampler()
        self.gen_s = 0.0  # input generation, excluded from setup_s
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
        self.detail: dict = {}
        self.spark = None
        self._steal0 = procstat.steal_ticks()

    def start_session(self) -> None:
        from kgx import session

        t = time.perf_counter()
        self.spark = session.get_spark(
            "kgx-bench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
            },
        )
        self.layer["session.start_s"] = time.perf_counter() - t

    def ready(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - T_START - self.gen_s
        self.phase("setup")

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def health(self) -> None:
        import procstat

        s1, t1 = procstat.steal_ticks()
        s0, t0 = self._steal0
        self.layer["bench.steal_frac"] = (s1 - s0) / max(1, t1 - t0)
        self.layer["bench.loadavg"] = procstat.loadavg()
        self.detail["steal_frac"] = round(self.layer["bench.steal_frac"], 4)
        self.detail["loadavg"] = self.layer["bench.loadavg"]

    def phase(self, name: str) -> None:
        """Record the wall time since process start at which `name` ended."""
        self.detail.setdefault("phases_s", {})[name] = round(time.perf_counter() - T_START, 2)

    def close(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        import procstat

        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 15
        while len(procstat.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in procstat.tree_pids(os.getpid())[1:]:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        shutil.rmtree(self.dir, ignore_errors=True)


# ---------------------------------------------------------------- batch ---


def _batch_input(seed: int, kb) -> str:
    import kbgen

    path = os.path.join(WORK, "inputs", f"batch_bigkb-{seed}-{KB_ENTITIES}-{BATCH_CONVS}x{BATCH_FILES}")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        kbgen.write_corpus(kb, tmp, BATCH_CONVS, BATCH_FILES, seed)
        try:
            os.replace(tmp, path)
        except OSError:  # another run of this seed cached it first
            shutil.rmtree(tmp)
    return path


def _timed_pass(run: Run, df, kb, name: str) -> dict | None:
    """One untraced `run_pipeline(resume=False)` pass into a fresh dir;
    None if it raised."""
    from kgx import job

    sc = run.spark.sparkContext
    out = os.path.join(run.dir, name)
    sc.setJobGroup(name, name)
    cpu0 = run.sampler.cpu_s()
    t = time.perf_counter()
    try:
        job.run_pipeline(run.spark, df, out, kb=kb, resume=False, run_id=name)
    except Exception as e:  # a failed pass is counted, the run goes on
        run.fail(f"{name}: {type(e).__name__}: {e}")
        return None
    finally:
        sc.setJobGroup("bench", "bench")
    wall = time.perf_counter() - t
    cpu = run.sampler.cpu_s() - cpu0
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(name)
    tasks = failed_tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else []:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
                failed_tasks += si.numFailedTasks
    return {
        "name": name,
        "out": out,
        "wall": wall,
        "cpu": cpu,
        "jobs": len(jobs),
        "tasks": tasks,
        "failed_tasks": failed_tasks,
    }


def run_batch(run: Run) -> None:
    import checks
    import kbgen
    import pyarrow.dataset as ds
    import stats

    seed = run.args.seed
    run.start_session()
    kb = kbgen.big_kb(KB_ENTITIES, seed)
    t = time.perf_counter()
    inp = _batch_input(seed, kb)
    run.gen_s = time.perf_counter() - t
    n_turns = ds.dataset(inp, format="parquet").count_rows()
    df = run.spark.read.parquet(inp)
    run.ready()

    # the timed passes are this session's first: what `python -m kgx.job`
    # runs (a warm-up pass would not fit the run budget, see README.md)
    passes = []
    with run.sampler:
        while not passes or sum(p["wall"] for p in passes) < run.args.seconds:
            run.attempted += 1
            p = _timed_pass(run, df, kb, f"pass{len(passes)}")
            if p is None:
                break
            passes.append(p)
        peak = run.sampler.peak_pss
    run.phase("timed")
    if not passes:
        raise RuntimeError("no batch pass completed: " + "; ".join(run.problems))

    wall = stats.median([p["wall"] for p in passes])
    run.e2e["turns_per_s"] = n_turns / wall
    run.e2e["cpu_s"] = stats.median([p["cpu"] for p in passes])
    run.e2e["peak_rss_mb"] = peak / 2**20
    # every conversation of a pass is available at its start and committed
    # at its end: in batch both freshness figures are the pass wall, one
    # sample per pass
    run.e2e["fresh_p50_s"] = wall
    run.e2e["fresh_p90_s"] = wall
    run.detail.update(
        turns=n_turns,
        passes=len(passes),
        pass_walls=[round(p["wall"], 3) for p in passes],
        fresh_samples=len(passes),
        sampler_cpu_s=round(run.sampler.own_cpu_s, 3),
    )

    # -- checks, outside the timed region ---------------------------------
    counts = {p["name"]: checks.count_rows(os.path.join(p["out"], "triples")) for p in passes}
    # the first pass over a cached input records its triple count beside
    # it; every later pass over that input, in any run, must match
    ref = os.path.join(inp, "_triples_count")
    if not os.path.exists(ref):
        with open(ref, "w") as f:
            f.write(str(counts[passes[0]["name"]]))
    with open(ref) as f:
        counts["recorded"] = int(f.read())
    if len(set(counts.values())) != 1:
        run.fail(f"triple counts differ across passes: {counts}")
    src = ds.dataset(inp, format="parquet").to_table().to_pandas()
    sample = checks.sample_convs(src["conv_id"].tolist(), ORACLE_SAMPLE, seed)
    got = checks.read_triples(os.path.join(passes[-1]["out"], "triples"), sample)
    bad = checks.oracle_mismatches(kb, src, got, sample)
    if bad:
        run.fail(f"{len(bad)}/{len(sample)} sampled conversations differ from the oracle: {bad[:3]}")
    run.detail.update(triples=counts, oracle_checked=len(sample))
    run.phase("checks")

    if run.args.trace:
        import kgpass

        _job_layers(run, passes[-1])
        traced_wall = _traced_layers(run, df, kb, n_turns)
        # the traced pass runs warm, so its untraced reference is a warm
        # pass too, less the analytics stage the traced pass leaves out.
        # A run must end within 180 s: on a loaded host it is skipped.
        if time.perf_counter() - T_START + 1.5 * traced_wall > TRACE_REF_DEADLINE_S:
            run.detail["warm_pass_s"] = "skipped: too close to the run time limit"
            return
        run.attempted += 1
        warm = _timed_pass(run, df, kb, "warm")
        if warm is None:
            raise RuntimeError("warm reference pass failed: " + "; ".join(run.problems))
        if checks.count_rows(os.path.join(warm["out"], "triples")) != counts["recorded"]:
            run.fail("the warm reference pass wrote a different triple count")
        analytics = kgpass.stage_walls(run.spark, warm["out"], "warm").get("analytics", 0.0)
        run.layer["bench.trace_overhead_s"] = traced_wall - (warm["wall"] - analytics)
        run.detail["warm_pass_s"] = round(warm["wall"], 3)


def _job_layers(run: Run, untraced: dict) -> None:
    """Per-layer metrics of an untraced run_pipeline pass: lineage stage
    walls, Spark job and task counts, output size."""
    import kgpass

    walls = kgpass.stage_walls(run.spark, untraced["out"], untraced["name"])
    L = run.layer
    for stage in ("extract", "triples", "nodes", "analytics"):
        L[f"job.{stage}_s"] = walls.get(stage, 0.0)
    L["job.unaccounted_s"] = untraced["wall"] - sum(walls.values())
    L["job.spark_jobs"] = untraced["jobs"]
    L["job.tasks"] = untraced["tasks"]
    L["job.failed_tasks"] = untraced["failed_tasks"]
    size, files = kgpass.output_bytes(untraced["out"])
    L["materialize.bytes_out"] = size
    L["materialize.files_out"] = files


def _traced_layers(run: Run, df, kb, n_turns: int) -> float:
    """One traced pass for layer self times and counts; returns its wall."""
    import kgpass

    tracer = kgpass.Tracer("traced")
    t = time.perf_counter()
    kgpass.kg_pass(run.spark, df, os.path.join(run.dir, "traced"), kb, tracer)
    wall = time.perf_counter() - t
    self_s = tracer.self_times()
    c = tracer.counts
    L = run.layer
    for name in (
        "assemble.admit", "linking.dims", "mentions.summary", "mentions.evidence",
        "relations.facts", "aggregate.triples", "canonical.canonicalize",
        "materialize.write", "lineage.record",
    ):
        L[name + "_s"] = self_s.get(name, 0.0)
    L["linking.gazetteer_rows"] = c["linking.gazetteer_rows"]
    L["mentions.summary_turns_per_s"] = n_turns / max(1e-9, L["mentions.summary_s"])
    L["mentions.hit_frac"] = c["mentions.hit_turns"] / max(1.0, c["mentions.turns"])
    L["relations.facts_out"] = c["relations.facts_out"]
    L["aggregate.triples_out"] = c["aggregate.triples_out"]
    L["canonical.nodes_in"] = c["canonical.nodes_in"]
    L["canonical.merge_frac"] = 1.0 - c["canonical.components"] / max(1.0, c["canonical.nodes_in"])
    run.detail["traced_wall_s"] = round(wall, 3)
    run.detail["spans"] = [
        {k: (round(v, 4) if isinstance(v, float) else v) for k, v in s.items()}
        for s in tracer.spans
    ]
    return wall


# --------------------------------------------------------------- stream ---


def _wait_files(ckpt: str, files: list[str], timeout_s: float) -> dict[str, float]:
    import streambench

    deadline = time.monotonic() + timeout_s
    while True:
        done = streambench.committed_files(ckpt)
        if all(f in done for f in files) or time.monotonic() > deadline:
            return done
        time.sleep(0.05)


def run_stream(run: Run) -> None:
    import checks
    import kbgen
    import procstat
    import pyarrow.dataset as ds
    import stats
    import streambench
    from kgx import resources
    from kgx.streaming import stream_job

    seed = run.args.seed
    inbox = os.path.join(run.dir, "inbox")
    sink = os.path.join(run.dir, "sink")
    ckpt = os.path.join(run.dir, "ckpt")
    manifest = os.path.join(run.dir, "manifest.jsonl")
    os.makedirs(inbox)
    per_file = round(STREAM_RATE * STREAM_PERIOD)

    run.start_session()
    kb = resources.default_kb()
    source = stream_job.stream_transcripts_from_files(run.spark, inbox)
    query = stream_job.start_kg_stream(run.spark, source, sink, ckpt, kb=kb)
    gen = None
    try:
        # warm-up: one file, whose (cold) micro-batch must commit first
        kbgen.write_parquet(
            kbgen.conversations(kb, per_file, seed, prefix="warm"),
            os.path.join(inbox, "warm.parquet"),
        )
        if "warm.parquet" not in _wait_files(ckpt, ["warm.parquet"], DRAIN_TIMEOUT_S):
            raise RuntimeError("the warm-up file was not committed")
        run.ready()

        # measured: every conversation created in [t0, t0 + seconds)
        n_files = math.ceil(run.args.seconds / STREAM_PERIOD)
        t0 = time.time() + 0.5
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "streamgen.py"),
                "--dir", inbox, "--manifest", manifest, "--seed", str(seed),
                "--rate", str(STREAM_RATE), "--period", str(STREAM_PERIOD),
                "--t0", repr(t0), "--n-files", str(n_files),
            ],
            cwd=ROOT,
        )
        run.sampler.exclude.add(gen.pid)
        # CPU and memory from t0 until the last measured file committed.
        # The generator is reaped only after that: reaping would add its
        # CPU to this process's children's CPU.
        with run.sampler:
            time.sleep(max(0.0, t0 - time.time()))
            cpu0 = run.sampler.cpu_s()
            run.sampler.reset_peak()
            deadline = time.monotonic() + STREAM_PERIOD * n_files + 30
            while not procstat.exited(gen.pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            with open(manifest) as f:
                landed = [json.loads(line) for line in f]
            done = _wait_files(ckpt, [e["file"] for e in landed], DRAIN_TIMEOUT_S)
            cpu1 = run.sampler.cpu_s()
            peak = run.sampler.peak_pss
        run.phase("timed")
        if gen.wait(timeout=5) != 0 or len(landed) != n_files:
            raise RuntimeError(
                f"stream generator exited with {gen.returncode} after {len(landed)}/{n_files} files"
            )
        # progress is posted just after the commit log entry is written
        fb = streambench.file_batches(ckpt)
        measured = {fb[e["file"]] for e in landed if e["file"] in fb}
        deadline = time.monotonic() + 10
        while True:
            progress = [p for p in query.recentProgress if p["batchId"] in measured]
            if len(progress) == len(measured) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stream_error = query.exception()
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        query.stop()

    # freshness: commit of the batch that read the conversation's file
    # minus the conversation's scheduled creation time
    fresh, measured_turns, last_commit = [], 0, t0
    for e in landed:
        if e["file"] in done:
            fresh.extend(done[e["file"]] - created for created in e["created"])
            measured_turns += kbgen.TURNS_PER_CONV * len(e["convs"])
            last_commit = max(last_commit, done[e["file"]])
    run.e2e["fresh_p50_s"] = stats.median(fresh)
    run.e2e["fresh_p90_s"] = stats.percentile(fresh, 90)
    run.e2e["turns_per_s"] = measured_turns / (last_commit - t0)
    run.e2e["cpu_s"] = cpu1 - cpu0
    run.e2e["peak_rss_mb"] = peak / 2**20
    run.detail.update(
        fresh_samples=len(fresh),
        fresh_commits=len({done[e["file"]] for e in landed if e["file"] in done}),
        files=len(landed),
        sampler_cpu_s=round(run.sampler.own_cpu_s, 3),
    )

    # -- checks --------------------------------------------------------------
    offered = [c for e in landed for c in e["convs"]]
    warm_convs = [f"warm-{seed}-{i:08d}" for i in range(per_file)]
    run.attempted = len(offered) + len(warm_convs)
    sink_convs = set(
        ds.dataset(sink, format="parquet", partitioning="hive")
        .to_table(columns=["conv_id"])
        .column("conv_id")
        .to_pylist()
    )
    missing = [c for c in warm_convs + offered if c not in sink_convs]
    if missing:
        run.failed += len(missing)
        run.problems.append(f"{len(missing)} offered conversations missing from the sink: {missing[:3]}")
    src = ds.dataset(inbox, format="parquet").to_table().to_pandas()
    sample = checks.sample_convs(offered, ORACLE_SAMPLE, seed)
    bad = checks.oracle_mismatches(kb, src, checks.read_triples(sink, sample), sample)
    if bad:
        run.failed += len(bad)
        run.problems.append(f"{len(bad)}/{len(sample)} sampled conversations differ from the oracle: {bad[:3]}")
    if stream_error is not None:
        run.problems.append(f"stream query failed: {stream_error}")
        run.layer["stream_job.failed_batches"] = 1
    run.detail["oracle_checked"] = len(sample)
    run.phase("checks")

    if run.args.trace:
        _stream_layers(run, progress, landed, done, ckpt)


def _stream_layers(run: Run, progress: list, landed: list, done: dict, ckpt: str) -> None:
    import stats
    import streambench

    L = run.layer
    dur = [p["durationMs"] for p in progress]
    L["stream_job.batches"] = len(progress)
    if dur:
        L["stream_job.batch_s_p50"] = stats.median([d["triggerExecution"] / 1e3 for d in dur])
        L["stream_job.add_batch_s_p50"] = stats.median([d.get("addBatch", 0) / 1e3 for d in dur])
        L["stream_job.overhead_s_p50"] = stats.median(
            [(d["triggerExecution"] - d.get("addBatch", 0)) / 1e3 for d in dur]
        )
    fb = streambench.file_batches(ckpt)
    per_batch: dict[int, int] = {}
    for e in landed:
        if e["file"] in fb:
            per_batch[fb[e["file"]]] = per_batch.get(fb[e["file"]], 0) + 1
    L["stream_job.files_per_batch"] = sum(per_batch.values()) / max(1, len(per_batch))
    # backlog: files landed but not yet committed, at each file's landing
    backlog = 0
    for e in landed:
        t = e["written"]
        pending = sum(1 for x in landed if x["written"] <= t and done.get(x["file"], math.inf) > t)
        backlog = max(backlog, pending)
    L["stream_job.backlog_files_max"] = backlog
    L["bench.gen_late_s_max"] = max(e["written"] - e["due"] for e in landed)


WORKLOADS = {"batch_bigkb": run_batch, "stream_openloop": run_stream}


def main() -> int:
    p = argparse.ArgumentParser(description="kgx benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    _require_checkout()
    _env()

    run = Run(args)
    try:
        WORKLOADS[args.workload](run)
        run.health()
    finally:
        run.close()
        run.phase("close")
    if args.trace:
        metrics = {k: {"value": float(run.layer[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
    detail = dict(run.detail, problems=run.problems)
    print("perfbench detail: " + json.dumps(detail, default=str))
    result = {
        "correct": run.failed == 0 and not run.problems,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
