"""The repository benchmark: the ORD CLI pipeline a user runs and the
registry's headline slots, timed end to end, checked, and (with
``--trace 1``) broken down by layer.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload ord_reuse --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

Workloads (each one process on ``local[N]``, N = ``SPARK_GRAFT_CPUS``
capped at ``nproc``):

- ``ord_reuse``: ``extract`` → ``clean`` → ``gen-fp`` (train and test)
  through ``orderly_spark.cli.main`` at the CLI defaults (fp 2048,
  radius 3, min frequency 100), over a seeded ORD corpus whose
  molecules are Zipf-drawn from a small vocabulary;
- ``ord_unique``: the same stages over a corpus whose reactant and
  product SMILES are nearly all distinct;
- ``registry_headline``: the 24 ``bench.HEADLINE`` slots over seeded
  star-schema tables, each timed as plan construction (``fn``) plus
  ``toPandas()``, the result a user gets.

A run generates its inputs in a child process (untimed), starts the
session (timed: ``setup_s``, from process start to a warmed session,
with the imports of the workload's entry point), then runs exactly one
pass of the workload in that fresh session and measures its wall time
and the CPU seconds of this process, the JVM and its Python workers
(``cpu_s``). The pass is fixed work, sized to last longer than
``--seconds`` at bench scale. Outputs are checked after the timed
region. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the gated end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``); the lines
before it report every metric with its unit. ``--workload all`` runs
every workload untraced and traced in child processes and prints the
tracing overhead.

Everything a run writes goes under ``.perfbench_work/`` in the checkout,
which is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

ORD_WORKLOADS = {"ord_reuse": "reuse", "ord_unique": "unique"}
WORKLOADS = (*ORD_WORKLOADS, "registry_headline")

# Input sizes per scale. "bench" is what BENCHMARK.json runs; "tiny" is
# the self-test's.
SCALES = {
    "bench": {
        "ord_reuse": {"reactions": 3000, "files": 8, "dirs": 4, "min_freq": 100},
        "ord_unique": {"reactions": 1500, "files": 8, "dirs": 4, "min_freq": 100},
        "registry_sf": 0.002,
    },
    "tiny": {
        "ord_reuse": {"reactions": 300, "files": 4, "dirs": 2, "min_freq": 5},
        "ord_unique": {"reactions": 300, "files": 4, "dirs": 2, "min_freq": 5},
        "registry_sf": 0.001,
    },
}
FP_SIZE, RADIUS, REACTANT_SLOTS = 2048, 3, 5  # CLI defaults

# Gated: set-up wall time, and the CPU seconds the JVM, its Python
# workers and this process spend on the pass. The pass's wall time is
# printed with every run but not gated: on a shared 4-vCPU host its
# run-to-run spread exceeded the largest bound the gate allows, while
# CPU seconds stayed near a tenth.
END_TO_END = (("setup_s", "s"), ("cpu_s", "s"))
REPORT = (("wall_s", "s"), ("peak_rss_mb", "MB"), ("failed_frac", "ratio"))
ORD_REPORT = (
    ("extract_s", "s"), ("clean_s", "s"), ("gen_fp_s", "s"),
    ("rxn_per_s", "1/s"), ("output_mb", "MB"),
)
LAYERS = ("bench", "cli", "session", "sources", "extract", "cleaning", "chem", "sink", "queries")
CLEANING_SLOTS = ("c_clean_pipeline_fullscale", "c_split_fullscale", "t_training_prep_pipeline")


def per_layer_metrics(headline: list[str]) -> list[tuple[str, str]]:
    """Every per-layer metric the traced run prints, in order."""
    out = [
        ("session.get_spark_s", "s"),
        ("sources.files", "count"),
        ("sources.decode.python_s", "s"),
        ("sources.decode.arrow_mb_in", "MB"),
        ("sources.decode.arrow_mb_out", "MB"),
        ("sources.decode.rows_out", "count"),
        ("sources.write.s", "s"),
        ("sources.write.mb", "MB"),
        ("extract.build_s", "s"),
        ("extract.rows_in", "count"),
        ("extract.rows_out", "count"),
        ("cleaning.build_s", "s"),
        ("cleaning.jobs_during_build", "count"),
        ("cleaning.task_cpu_s", "s"),
        ("cleaning.shuffle_write_mb", "MB"),
        ("cleaning.exchanges", "count"),
        ("cleaning.spill_mb", "MB"),
        ("cleaning.rows_in", "count"),
        ("cleaning.rows_train", "count"),
        ("cleaning.rows_test", "count"),
        ("chem.fp.python_s", "s"),
        ("chem.fp.boot_s", "s"),
        ("chem.fp.arrow_mb_in", "MB"),
        ("chem.fp.arrow_mb_out", "MB"),
        ("chem.fp.rows", "count"),
        ("chem.fp.distinct_ratio", "ratio"),
        ("sink.fp.write_s", "s"),
        ("sink.fp.mb", "MB"),
    ]
    for slot in headline:
        out += [
            (f"queries.{slot}.build_s", "s"),
            (f"queries.{slot}.exec_s", "s"),
            (f"queries.{slot}.shuffle_write_mb", "MB"),
        ]
    out += [
        ("queries.jobs_during_build", "count"),
        ("spark.task_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.spill_mb", "MB"),
    ]
    out += [(f"stage.{n}", u) for n, u in ORD_REPORT]
    out += [(f"self.{layer}_s", "s") for layer in LAYERS]
    out.append(("trace.wall_s", "s"))
    return out


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def _cpus() -> int:
    nproc = os.cpu_count() or 1
    try:
        want = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    except ValueError:
        want = nproc
    return max(1, min(want, nproc))


def _calibrate(spark) -> dict[str, float]:
    """bench.py's two fixed-work host probes (run metadata, not gated)."""
    import hashlib

    t0 = time.perf_counter()
    b = b"orderly-spark-calibration-block-64-bytes-long-0123456789abcdef!"
    for _ in range(1_500_000):
        b = hashlib.sha256(b).digest() + b[32:]
    py = time.perf_counter() - t0
    spark.range(1000).selectExpr("sum(id * 2 + id % 7) AS s").collect()
    t0 = time.perf_counter()
    spark.range(400_000_000).selectExpr("sum(id * 2 + id % 7) AS s").collect()
    return {"calib_py_hash_s": round(py, 4), "calib_jvm_s": round(time.perf_counter() - t0, 4)}


# ---------------------------------------------------------------------------
# one pass of each workload
# ---------------------------------------------------------------------------


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


class Failures:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def ord_pass(data: Path, out: Path, min_freq: int, fails: Failures, tracer=None) -> dict[str, float]:
    from orderly_spark.cli import main as cli

    steps = [
        ("extract", ["extract", "--data-path", str(data), "--output-path", str(out / "ex")]),
        ("clean", [
            "clean",
            "--ord-extraction-path", str(out / "ex" / "extracted_ords"),
            "--molecules-to-remove-path", str(out / "ex" / "molecule_names"),
            "--output-path", str(out / "cl"),
            "--min-frequency-of-occurrence", str(min_freq),
        ]),
        ("gen_fp", ["gen-fp", "--clean-data-path", str(out / "cl" / "train.parquet"),
                    "--output-path", str(out / "fp_train")]),
        ("gen_fp", ["gen-fp", "--clean-data-path", str(out / "cl" / "test.parquet"),
                    "--output-path", str(out / "fp_test")]),
    ]
    times = dict.fromkeys(("extract", "clean", "gen_fp"), 0.0)
    with _span(tracer, "bench.pass"), contextlib.redirect_stdout(sys.stderr):
        t_pass = time.perf_counter()
        for stage, argv in steps:
            t0 = time.perf_counter()
            try:
                with _span(tracer, f"cli.{stage}"):
                    rc = cli(argv)
                ok = rc == 0
            except Exception as ex:  # a failed stage is counted, not fatal
                log(f"{stage} raised {ex!r}")
                ok = False
            times[stage] += time.perf_counter() - t0
            fails.attempt(ok, f"{stage} failed")
        times["wall"] = time.perf_counter() - t_pass
    return times


def registry_pass(spark, sf_dir: str, fails: Failures, tracer=None):
    from bench import HEADLINE
    from orderly_spark.registry import REGISTRY

    results: dict[str, object] = {}
    times: dict[str, float] = {}
    with _span(tracer, "bench.pass"):
        t_pass = time.perf_counter()
        for slot in HEADLINE:
            q = REGISTRY[slot]
            try:
                with _span(tracer, f"queries.{slot}"):
                    t0 = time.perf_counter()
                    with _span(tracer, f"queries.{slot}.build"):
                        df = q.fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with _span(tracer, f"queries.{slot}.exec"):
                        results[slot] = df.toPandas()
                    t2 = time.perf_counter()
                times[f"{slot}.build"] = t1 - t0
                times[f"{slot}.exec"] = t2 - t1
            except Exception as ex:  # a failed slot is counted, not fatal
                log(f"{slot} raised {ex!r}")
                fails.attempt(False, f"{slot} raised")
                results[slot] = None
        times["wall"] = time.perf_counter() - t_pass
    return times, results


# ---------------------------------------------------------------------------
# per-layer table from spans + event log
# ---------------------------------------------------------------------------


def layer_table(tracer, elog, root_sid: int, headline: list[str], facts: dict) -> dict[str, float]:
    spans = tracer.subtree(root_sid)
    ids = {s.id for s in spans}
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def dur(name: str) -> float:
        return sum(s.end - s.start for s in by_name.get(name, []))

    def sub_ids(names) -> set[int]:
        out: set[int] = set()
        for n in names:
            for s in by_name.get(n, []):
                out |= {x.id for x in tracer.subtree(s.id)}
        return out

    m: dict[str, float] = {}
    m["session.get_spark_s"] = facts.get("setup_get_spark_s", 0.0)
    ex_ids = sub_ids(["cli.extract"])
    ex_execs = elog.executions_of(ex_ids)
    m["sources.files"] = facts.get("files", 0)
    m["sources.decode.python_s"] = elog.node_metric(ex_execs, "MapInPandas", "time to run Python workers") / 1e3
    m["sources.decode.arrow_mb_in"] = elog.node_metric(ex_execs, "MapInPandas", "data sent to Python workers") / 1e6
    m["sources.decode.arrow_mb_out"] = elog.node_metric(ex_execs, "MapInPandas", "data returned from Python workers") / 1e6
    m["sources.decode.rows_out"] = elog.node_metric(ex_execs, "MapInPandas", "number of output rows")
    m["sources.write.s"] = dur("sources.write_extracted")
    m["sources.write.mb"] = facts.get("extracted_mb", 0.0)
    m["extract.build_s"] = dur("extract.extract_reactions") + dur("extract.molecule_name_side_output")
    m["extract.rows_in"] = facts.get("reactions", 0)
    m["extract.rows_out"] = facts.get("extracted_rows", 0)

    clean_builds = ("cleaning.merge_extracted", "cleaning.clean_pipeline", "cleaning.train_test_split")
    scope = sub_ids(["cli.clean"] + [f"queries.{s}" for s in CLEANING_SLOTS])
    tot = elog.totals(scope)
    m["cleaning.build_s"] = sum(dur(n) for n in clean_builds)
    m["cleaning.jobs_during_build"] = len(elog.jobs_of(sub_ids(clean_builds)))
    m["cleaning.task_cpu_s"] = tot.cpu_s
    m["cleaning.shuffle_write_mb"] = tot.shuffle_write_b / 1e6
    m["cleaning.exchanges"] = sum(elog.exchanges.get(e, 0) for e in elog.executions_of(scope))
    m["cleaning.spill_mb"] = tot.spill_b / 1e6
    m["cleaning.rows_in"] = facts.get("extracted_rows", 0)
    m["cleaning.rows_train"] = facts.get("rows_train", 0)
    m["cleaning.rows_test"] = facts.get("rows_test", 0)

    fp_execs = elog.executions_of(sub_ids(["cli.gen_fp"]))
    # each fingerprint column is its own ArrowEvalPython node, chained in
    # one stage, so their worker times overlap: take the outermost (max)
    m["chem.fp.python_s"] = elog.node_metric(fp_execs, "ArrowEvalPython", "time to run Python workers", max) / 1e3
    m["chem.fp.boot_s"] = elog.node_metric(fp_execs, "ArrowEvalPython", "time to start Python workers") / 1e3
    m["chem.fp.arrow_mb_in"] = elog.node_metric(fp_execs, "ArrowEvalPython", "data sent to Python workers") / 1e6
    m["chem.fp.arrow_mb_out"] = elog.node_metric(fp_execs, "ArrowEvalPython", "data returned from Python workers") / 1e6
    m["chem.fp.rows"] = elog.node_metric(fp_execs, "ArrowEvalPython", "number of output rows")
    m["chem.fp.distinct_ratio"] = facts.get("fp_distinct_ratio", 0.0)
    gen_sinks = [s for s in by_name.get("sink.parquet", []) if s.id in sub_ids(["cli.gen_fp"])]
    m["sink.fp.write_s"] = sum(s.end - s.start for s in gen_sinks)
    m["sink.fp.mb"] = facts.get("fp_mb", 0.0)

    build_ids: set[int] = set()
    for slot in headline:
        m[f"queries.{slot}.build_s"] = dur(f"queries.{slot}.build")
        m[f"queries.{slot}.exec_s"] = dur(f"queries.{slot}.exec")
        m[f"queries.{slot}.shuffle_write_mb"] = elog.totals(sub_ids([f"queries.{slot}"])).shuffle_write_b / 1e6
        build_ids |= sub_ids([f"queries.{slot}.build"])
    m["queries.jobs_during_build"] = len(elog.jobs_of(build_ids))

    all_tot = elog.totals(ids)
    m["spark.task_cpu_s"] = all_tot.cpu_s
    m["spark.gc_s"] = all_tot.gc_s
    m["spark.spill_mb"] = all_tot.spill_b / 1e6
    for name, _unit in ORD_REPORT:
        m[f"stage.{name}"] = facts.get(name, 0.0)
    self_by_layer = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        self_by_layer[s.layer] = self_by_layer.get(s.layer, 0.0) + tracer.self_time(s.id)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = self_by_layer[layer]
    root = tracer.spans[root_sid]
    m["trace.wall_s"] = root.end - root.start
    return m


def install_tracer(spark):
    from pyspark.sql.readwriter import DataFrameWriter

    from orderly_spark import session
    from orderly_spark.functions import chem
    from orderly_spark.operators import cleaning as C
    from orderly_spark.operators import extract as X
    from orderly_spark.sources import ord as S

    from spans import Tracer

    tracer = Tracer(spark.sparkContext)
    tracer.patch({
        "session.get_spark": (session, "get_spark"),
        "sources.scan_ord_files": (S, "scan_ord_files"),
        "sources.decode_reactions": (S, "decode_reactions"),
        "sources.write_extracted": (S, "write_extracted"),
        "sources.save_name_list": (S, "save_name_list"),
        "sources.load_name_list": (S, "load_name_list"),
        "extract.extract_reactions": (X, "extract_reactions"),
        "extract.molecule_name_side_output": (X, "molecule_name_side_output"),
        "cleaning.merge_extracted": (C, "merge_extracted"),
        "cleaning.clean_pipeline": (C, "clean_pipeline"),
        "cleaning.train_test_split": (C, "train_test_split"),
        "chem.morgan_fingerprint_udf": (chem, "morgan_fingerprint_udf"),
        "chem.fingerprint_difference": (chem, "fingerprint_difference"),
    })
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        # the extracted write is already inside its sources span
        if tracer.current() == "sources.write_extracted":
            return orig(self, path, *args, **kwargs)
        with tracer.span("sink.parquet"):
            return orig(self, path, *args, **kwargs)

    tracer.patch_method(DataFrameWriter, "parquet", parquet)
    return tracer


# ---------------------------------------------------------------------------
# one workload in this process
# ---------------------------------------------------------------------------


def _configure(work: Path, trace: bool) -> None:
    """Point Spark, its Python workers and every temp file at ``work``,
    and put the repo root on the workers' PYTHONPATH."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM (spark-submit's launcher too) keeps its temp files and
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        (work / "eventlog").mkdir()
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'eventlog'}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"
    os.chdir(work)
    import tempfile

    tempfile.tempdir = str(work / "tmp")


def _make_inputs(name: str, seed: int, sizes: dict, work: Path) -> dict:
    """Write the workload's inputs in a child process, so this process
    imports none of the generators' modules; return their description."""
    if name in ORD_WORKLOADS:
        spec = sizes[name]
        argv = ["corpus.py", spec["reactions"], spec["files"], spec["dirs"], ORD_WORKLOADS[name], seed, work / "corpus"]
    else:
        argv = ["star_tables.py", sizes["registry_sf"], seed, work / "tables"]
    proc = subprocess.run(
        [sys.executable, str(HERE / argv[0]), *map(str, argv[1:])],
        stdout=subprocess.PIPE, text=True, check=True, timeout=600,
    )
    return json.loads(proc.stdout.splitlines()[-1])


def _setup(name: str):
    """Import what the workload's entry point imports and start the
    session; returns the session and the seconds ``get_spark`` took.
    Nothing else is warmed: the pass pays each first use, as a CLI
    invocation does."""
    if name in ORD_WORKLOADS:
        import orderly_spark.cli  # noqa: F401  (imports its stages lazily)
    else:
        import bench  # noqa: F401
        import orderly_spark.queries  # noqa: F401  (registers the slots)
    from orderly_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench.{name}")
    return spark, time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop Spark, shut its JVM down and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    from spans import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_workload(name: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    work = ROOT / ".perfbench_work" / f"{name}-s{seed}-t{int(trace)}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _configure(work, trace)
    try:
        return _run(name, seed, seconds, trace, scale, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it


def _run(name: str, seed: int, seconds: float, trace: bool, scale: str, work: Path) -> dict:
    from spans import RssSampler, tree_cpu_s

    # interpreter start to here is set-up; input generation is not
    pre_s = time.perf_counter() - T_START
    sizes = SCALES[scale]
    is_ord = name in ORD_WORKLOADS

    # --- inputs (untimed) ---------------------------------------------
    facts: dict = {}
    inputs = _make_inputs(name, seed, sizes, work)
    if is_ord:
        facts.update(reactions=inputs["reactions"], files=inputs["files"])
        log(f"corpus {inputs['reactions']} reactions in {inputs['files']} files, "
            f"distinct molecule share {inputs['distinct_molecule_share']:.3f}, planted {inputs['planted']}")
    else:
        sf_dir = work / "tables"
        log(f"tables {inputs}")

    # --- setup (timed): imports + session ------------------------------
    t0 = time.perf_counter()
    spark, facts["setup_get_spark_s"] = _setup(name)
    setup_s = pre_s + time.perf_counter() - t0
    log(f"setup {setup_s:.2f}s (get_spark {facts['setup_get_spark_s']:.2f}s)")
    # the tracer imports the modules it patches, so a traced pass does
    # not pay their first import
    tracer = install_tracer(spark) if trace else None

    # --- the measured pass ----------------------------------------------
    # One pass in the fresh session: its first use of each plan, UDF
    # and operator pays JIT, codegen and worker imports, as every CLI
    # invocation does.
    fails = Failures()
    with RssSampler() as rss:
        cpu0 = tree_cpu_s()
        if is_ord:
            out = work / "out"
            times = ord_pass(Path(inputs["root"]), out, sizes[name]["min_freq"], fails, tracer)
        else:
            times, results = registry_pass(spark, str(sf_dir), fails, tracer)
        times["cpu"] = tree_cpu_s() - cpu0
    log(f"pass: {times['wall']:.2f}s, {times['cpu']:.2f} CPU-s")
    if times["wall"] < seconds:
        log(f"the pass took less than --seconds {seconds:g}")
    t0 = time.perf_counter()
    calib = _calibrate(spark)
    if tracer:
        tracer.unpatch()
    _stop(spark)
    log(f"calibration and stop {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()

    # --- checks (untimed) ----------------------------------------------
    import bench
    import checks

    headline = list(bench.HEADLINE)
    if is_ord:
        found = checks.ord_checks(out, inputs["reactions"], seed, FP_SIZE, RADIUS, REACTANT_SLOTS)
        digest = checks.digest([out / "ex" / "extracted_ords", out / "cl", out / "fp_train", out / "fp_test"])
        facts["extracted_rows"] = checks.count_rows(out / "ex" / "extracted_ords")
        facts["rows_train"] = checks.count_rows(out / "cl" / "train.parquet")
        facts["rows_test"] = checks.count_rows(out / "cl" / "test.parquet")
        facts["extracted_mb"] = _dir_bytes(out / "ex" / "extracted_ords") / 1e6
        facts["fp_mb"] = (_dir_bytes(out / "fp_train") + _dir_bytes(out / "fp_test")) / 1e6
        facts["fp_distinct_ratio"] = checks.fp_distinct_ratio(
            [out / "cl" / "train.parquet", out / "cl" / "test.parquet"], REACTANT_SLOTS
        )
    else:
        from orderly_spark.oracle import duckdb_connect
        from orderly_spark.registry import REGISTRY

        con = duckdb_connect(str(sf_dir))
        found = [
            checks.oracle_check(con, REGISTRY[slot], results[slot], str(sf_dir))
            for slot in headline
            if results.get(slot) is not None
        ]
    for c in found:
        fails.attempt(c.ok, f"{c.name}: {c.detail}")
    log(f"checks {time.perf_counter() - t0:.2f}s")

    # --- report ----------------------------------------------------------
    e2e = {"setup_s": setup_s, "cpu_s": times["cpu"]}
    report = {**e2e, "wall_s": times["wall"], "peak_rss_mb": rss.peak_bytes / 1e6}
    if is_ord:
        report.update(
            extract_s=times["extract"], clean_s=times["clean"], gen_fp_s=times["gen_fp"],
            rxn_per_s=inputs["reactions"] / times["wall"], output_mb=_dir_bytes(out) / 1e6,
        )
        facts.update({k: report[k] for k, _u in ORD_REPORT})
    report["failed_frac"] = fails.failed / max(fails.attempted, 1)
    units = dict(END_TO_END + REPORT + ORD_REPORT)
    print(f"# {name} seed={seed}: one pass in a fresh session")
    for k, v in report.items():
        print(f"# {k} = {v:.4f} {units[k]}")
    meta = {
        "workload": name, "seed": seed, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"], **calib,
    }
    if is_ord:
        meta.update(digest=digest, distinct_molecule_share=round(inputs["distinct_molecule_share"], 4),
                    planted=inputs["planted"], rows_train=facts["rows_train"], rows_test=facts["rows_test"])
    else:
        meta["slot_s"] = {s: round(times.get(f"{s}.build", 0) + times.get(f"{s}.exec", 0), 4) for s in headline}
    print(f"# meta {json.dumps(meta, sort_keys=True)}")

    if trace:
        from spans import read_event_log

        elog = read_event_log(work / "eventlog")
        root = next(s.id for s in tracer.spans if s.name == "bench.pass")
        table = layer_table(tracer, elog, root, headline, facts)
        metrics = {n: {"value": table[n], "unit": u} for n, u in per_layer_metrics(headline)}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    for note in fails.notes:
        log(f"FAILED: {note}")
    return {
        "correct": fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": metrics,
    }


# ---------------------------------------------------------------------------
# all workloads
# ---------------------------------------------------------------------------


def _child(workload: str, seed: int, seconds: float, trace: int, scale: str) -> tuple[dict, float]:
    """Run one workload in a child process; returns its result and the
    wall_s from its report."""
    cmd = [sys.executable, str(Path(__file__)), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--scale", scale]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.splitlines()
    sys.stdout.write("".join(line + "\n" for line in lines[:-1]))
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {proc.returncode}")
    wall = next(float(line.split()[3]) for line in lines if line.startswith("# wall_s = "))
    return json.loads(lines[-1]), wall


def run_all(seed: int, seconds: float, scale: str, tolerance: float = 0.25) -> dict:
    """Every workload untraced, then traced, in child processes. Prints
    the tracing overhead (traced minus untraced wall) and whether the
    traced layer self-times, which partition the traced pass, add up to
    the untraced wall within ``tolerance``. That comparison spans two
    separately timed runs, so it is reported, not counted as a failed
    check."""
    merged: dict = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        plain, wall = _child(wl, seed, seconds, 0, scale)
        traced, _ = _child(wl, seed, seconds, 1, scale)
        print(f"# traced {json.dumps({'workload': wl, **traced})}")
        twall = traced["metrics"]["trace.wall_s"]["value"]
        layer_sum = sum(traced["metrics"][f"self.{layer}_s"]["value"] for layer in LAYERS)
        within = abs(layer_sum - wall) <= tolerance * wall
        print(f"# {wl}: untraced wall_s {wall:.3f} s, traced {twall:.3f} s, "
              f"tracing overhead {twall - wall:+.3f} s; layer self-times sum to {layer_sum:.3f} s, "
              f"{(layer_sum - wall) / wall:+.1%} of the untraced wall (tolerance ±{tolerance:.0%}: "
              f"{'ok' if within else 'OUTSIDE'})")
        merged["correct"] = merged["correct"] and plain["correct"] and traced["correct"]
        for part in (plain, traced):
            merged["attempted"] += part["attempted"]
            merged["failed"] += part["failed"]
        for k, v in plain["metrics"].items():
            merged["metrics"][f"{wl}.{k}"] = v
        merged["metrics"][f"{wl}.wall_s"] = {"value": wall, "unit": "s"}
        merged["metrics"][f"{wl}.trace_overhead_s"] = {"value": twall - wall, "unit": "s"}
    return merged


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SCALES), default="bench")
    args = p.parse_args(argv)
    if not (ROOT / "orderly_spark" / "cli.py").is_file() or not (ROOT / "bench.py").is_file():
        print(f"error: no orderly_spark package and bench.py under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    for p_ in (str(ROOT), str(HERE)):
        if p_ not in sys.path:
            sys.path.insert(0, p_)
    if args.workload == "all":
        result = run_all(args.seed, args.seconds, args.scale)
    else:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
