#!/usr/bin/env python3
"""Cold-pool benchmark of the graft engine: one workload per run.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the harness from source into `.bench_build/` and generates the inputs
into `.bench_data/`; later runs reuse both. Each run then starts one JVM
(perfbench/src/PerfBench.scala) that sets up, runs a discarded warm-up
pass that also dumps every output, and times cold-pool passes. The
outputs are checked with `tools/check.py` (DuckDB oracle, or row count
where a query has no oracle SQL) and against `expected_rows.json`.

The last line of stdout is one JSON object: `{"correct", "attempted",
"failed", "metrics"}`. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones (see perfbench/README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, HERE)
from workloads import MODULES, SCALE, WORKLOADS  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data", f"sf{SCALE}")
WORK = os.path.join(ROOT, ".bench_work")
EXPECTED = os.path.join(HERE, "expected_rows.json")

CORES = len(os.sched_getaffinity(0))  # local[nproc]
HEAP = "4g"
RUN_TIMEOUT_S = 150
# JDK 17 module opens Spark needs outside spark-submit; the same list
# build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Counts fixed by the plan: they must repeat exactly between two traced
# passes of the same code. Shuffle is compared in records: its
# compressed byte count moves by a few bytes with row arrival order.
REPEAT_KEYS = ["run.jobs", "run.stages", "run.tasks", "shuffle.write_records",
               "pool.builds", "sink.output_rows"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # otherwise the jar directory build.sbt compiles against
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jars: set SPARK_HOME")
    return m.group(1)


def java_cmd(jars, classpath, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", ":".join([*classpath, os.path.join(jars, "*")]),
             main, *args])


def private_tmp(cmd, tmp):
    """Run `cmd` with `tmp` mounted over /tmp. The engine writes its
    sinks, stream checkpoints and Derby fixture under fixed /tmp paths;
    a private mount namespace keeps them inside the checkout. Without
    unprivileged namespaces the command runs as is."""
    os.makedirs(tmp, exist_ok=True)
    wrap = ["unshare", "--user", "--map-root-user", "--mount"]
    try:
        ok = subprocess.run([*wrap, "true"], capture_output=True,
                            timeout=20).returncode == 0
    except (OSError, subprocess.SubprocessError):
        ok = False
    if not ok:
        print("perfbench: no private /tmp (unshare unavailable)",
              file=sys.stderr)
        return cmd
    return [*wrap, "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"',
            tmp, *cmd]


def run_proc(cmd, log, timeout, cwd):
    """Run to completion in its own process group; kill the group on
    timeout. Returns the exit code (None on timeout)."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=cwd, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs (Linux)."""
    try:
        f = open("/proc/stat").readline().split()
        return int(f[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tail(path, n=30):
    try:
        return "".join(open(path).readlines()[-n:])
    except OSError:
        return ""


# ---- build -----------------------------------------------------------------

def build(jars):
    """Compile the engine, then the harness, with the Scala compiler that
    ships in Spark's jar directory (build.sbt adds no compiler options).
    Skipped when the sources hash to the recorded stamp."""
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    h = hashlib.sha256()
    for f in main + bench:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(BUILD, "stamp")
    classes = [os.path.join(BUILD, "classes"), os.path.join(BUILD, "bench")]
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    for d in classes:
        os.makedirs(d)
    compiler = [next(iter(glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))),
                     "") for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"no Scala compiler jars in {jars}")
    for srcs, out, cp in ((main, classes[0], []),
                          (bench, classes[1], [classes[0]])):
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
               "-cp", ":".join([*cp, os.path.join(jars, "*")]),
               "-d", out, *srcs]
        log = os.path.join(BUILD, "compile.log")
        if run_proc(cmd, log, 840, ROOT) != 0:
            fail("compile failed:\n" + tail(log))
    open(stamp, "w").write(h.hexdigest())
    return classes


# ---- inputs ----------------------------------------------------------------

def ensure_data(jars, classes):
    """Generate the inputs with graft.GenData on first use and check the
    GENMODE stamp it writes."""
    want = f"mode=heaps sf={SCALE}"
    stamp = os.path.join(DATA, "GENMODE")
    if not os.path.exists(stamp):
        shutil.rmtree(DATA, ignore_errors=True)
        os.makedirs(os.path.join(WORK, "gen"), exist_ok=True)
        cmd = java_cmd(jars, classes, "graft.GenData",
                       [str(SCALE), DATA, "heaps"])
        log = os.path.join(WORK, "gen.log")
        env_cmd = ["env", f"SPARK_GRAFT_CPUS={CORES}", *cmd]
        rc = run_proc(private_tmp(env_cmd, os.path.join(WORK, "tmp")), log,
                      600, os.path.join(WORK, "gen"))
        if rc != 0:
            fail("data generation failed:\n" + tail(log))
    got = open(stamp).read().strip() if os.path.exists(stamp) else ""
    if got != want:
        fail(f"{DATA}: GENMODE is {got!r}, expected {want!r}")
    import pyarrow.parquet as pq
    tables = {}
    for p in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        tables[name] = (pq.ParquetFile(p).metadata.num_rows,
                        os.path.getsize(p) / 1048576.0)
    return tables


# ---- checks ------------------------------------------------------------------

def check_outputs(dump_dir, log):
    """tools/check.py over the warm-up pass's dump: {query: (status,
    rows)} with status PASS, SKIP (rows-only) or FAIL."""
    rc = run_proc([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                   DATA, dump_dir], log, 20, WORK)
    res = {}
    for line in open(log):
        m = re.match(r"(PASS|SKIP|FAIL) (\S+?):? .*?(?:\((\d+) rows\))?$",
                     line.rstrip())
        if m:
            res[m.group(2)] = (m.group(1),
                               int(m.group(3)) if m.group(3) else None)
    return rc, res


# ---- trace reduction -------------------------------------------------------

def layer_metrics(p, spec):
    """Reduce one traced pass to per-layer totals. Spans: run > query >
    build/plan/exec; jobs are children of the phase open when they were
    submitted, pool builds and stream batches children of build. Self
    time = span minus what its children cover."""
    qs = p["queries"]
    phase_spans = [(a, b, f"{i}:{ph}") for i, q in enumerate(qs)
                   for ph, (a, b) in q["spans"].items()]

    def place(key, t0):
        if key:
            return key
        for a, b, k in phase_spans:
            if a <= t0 <= b:
                return k
        return "run:harness"

    job_key = {}
    jobs_by_phase = Counter()
    for j in p["jobs"]:
        k = place(j["key"], j["t0"])
        jobs_by_phase[k.split(":")[1]] += 1
        for s in j["stages"]:
            job_key.setdefault(s, k)
    st = defaultdict(Counter)  # phase -> summed stage counters
    for s in p["stages"]:
        k = s["key"] or job_key.get(s["id"], "run:harness")
        c = st[k.split(":")[1]]
        c["stages"] += 1
        c["single_task_stages"] += s["single_task"]
        for f in ("tasks", "run_ms", "cpu_ns", "gc_ms", "in_bytes",
                  "in_records", "shuffle_write", "shuffle_records",
                  "shuffle_read", "spill", "out_bytes", "out_records"):
            c[f] += s[f]
    tot = sum(st.values(), Counter())

    m = Counter()
    touched = Counter()
    for q in qs:
        name = q["name"]
        module, layer = spec[name]
        dur = {ph: b - a for ph, (a, b) in q["spans"].items()}
        qtime = sum(dur.values())
        pool = sum(d for _, d in q["pool"])
        trig = sum(b["trigger_s"] for b in q["batches"])
        build = dur.get("build", 0.0)
        # children of build, capped so self time never goes negative
        kids = min(build, pool + trig)
        scale = kids / (pool + trig) if pool + trig else 0.0
        m["build.s"] += build - kids
        m["pool.build_s"] += pool * scale
        m["stream.trigger_s"] += trig * scale
        m["plan.s"] += dur.get("plan", 0.0)
        m["exec.s"] += dur.get("exec", 0.0)
        m["pool.builds"] += len(q["pool"])
        m["pool.touches"] += len(q["touched"])
        touched.update(set(q["touched"]))
        m["stream.batches"] += len(q["batches"])
        m["stream.addbatch_s"] += sum(b["addbatch_s"] for b in q["batches"])
        if layer == "stream":
            m["stream.setup_s"] += max(0.0, qtime - trig)
        if layer in ("sink", "source"):
            m[f"{layer}.s"] += qtime
        for ph, key in (("analysis", "plan.analysis_s"),
                        ("optimization", "plan.optimization_s"),
                        ("planning", "plan.planning_s")):
            m[key] += float(q["phases_ms"].get(ph, 0)) / 1000.0
        m[f"module.{module}_s"] += qtime
    covered = sum(sum(b - a for a, b in q["spans"].values()) for q in qs)
    m["harness.s"] = p["wall_s"] - covered
    m["build.jobs"] = jobs_by_phase["build"]
    m["exec.jobs"] = jobs_by_phase["exec"]
    ex = st["exec"]
    m["exec.stages"] = ex["stages"]
    m["exec.tasks"] = ex["tasks"]
    m["exec.task_run_s"] = ex["run_ms"] / 1000.0
    m["exec.task_cpu_s"] = ex["cpu_ns"] / 1e9
    m["exec.gc_s"] = ex["gc_ms"] / 1000.0
    m["exec.busy_frac"] = (ex["run_ms"] / 1000.0 / (m["exec.s"] * CORES)
                           if m["exec.s"] else 0.0)
    m["exec.single_task_stages"] = ex["single_task_stages"]
    m["run.jobs"] = len(p["jobs"])
    m["run.stages"] = tot["stages"]
    m["run.tasks"] = tot["tasks"]
    m["run.task_run_s"] = tot["run_ms"] / 1000.0
    m["run.busy_frac"] = tot["run_ms"] / 1000.0 / (p["wall_s"] * CORES)
    m["scan.input_mb"] = tot["in_bytes"] / 1048576.0
    m["scan.input_rows"] = tot["in_records"]
    m["shuffle.write_records"] = tot["shuffle_records"]
    m["shuffle.write_mb"] = tot["shuffle_write"] / 1048576.0
    m["shuffle.read_mb"] = tot["shuffle_read"] / 1048576.0
    m["shuffle.spill_mb"] = tot["spill"] / 1048576.0
    m["sink.output_mb"] = tot["out_bytes"] / 1048576.0
    m["sink.output_rows"] = tot["out_records"]
    m["pool.hit_ratio"] = ((m["pool.touches"] - m["pool.builds"])
                           / m["pool.touches"] if m["pool.touches"] else 0.0)
    m["pool.single_consumer_tags"] = sum(1 for n in touched.values() if n == 1)
    m["pool.resident_mb"] = p["cache_bytes"] / 1048576.0
    return m


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; have {', '.join(WORKLOADS)}")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a graft checkout ({need} missing)")

    jars = spark_jars()
    classes = build(jars)
    tables = ensure_data(jars, classes)

    spec = WORKLOADS[a.workload]
    order = sorted(spec)
    random.Random(a.seed).shuffle(order)

    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    out = os.path.join(run_dir, "out")
    log = os.path.join(run_dir, "harness.log")
    cmd = java_cmd(jars, classes, "graftbench.PerfBench",
                   [DATA, out, str(CORES), str(a.seconds), str(a.trace),
                    ",".join(order)])
    steal0 = steal_s()
    rc = run_proc(private_tmp(cmd, tmp), log, RUN_TIMEOUT_S, run_dir)
    steal = steal_s() - steal0
    if rc != 0:
        fail(f"harness exit {rc}:\n" + tail(log))
    passes = [json.loads(x) for x in open(os.path.join(out, "passes.jsonl"))]
    setup = next(p for p in passes if p["kind"] == "setup")["setup_s"]
    probe = next(p for p in passes if p["kind"] == "probe")
    warm = next(p for p in passes if p["kind"] == "warmup")
    timed = [p for p in passes if p["kind"] == "timed"]
    traced = [p for p in passes if p["kind"] == "traced"]
    paired = [p for p in passes if p["kind"] == "paired"]

    # ---- correctness ----
    problems = []
    chk_rc, chk = check_outputs(os.path.join(out, "dump"),
                                os.path.join(run_dir, "check.log"))
    checked = {}
    for q in order:
        status, rows = chk.get(q, ("FAIL", None))
        if status == "FAIL" or rows is None:
            problems.append(f"{q}: output check {status}")
        checked[q] = rows
    if chk_rc != 0:
        problems.append(f"tools/check.py exit {chk_rc}")
    want = json.load(open(EXPECTED))[a.workload]
    for q in order:
        if want.get(q) != checked[q]:
            problems.append(f"{q}: {checked[q]} rows, expected {want.get(q)}")
    attempted = failed = 0
    for p in timed + traced + paired:
        for q in p["queries"]:
            attempted += 1
            if q["error"] or q["rows"] != checked[q["name"]]:
                failed += 1
                problems.append(f"{q['name']}: {q['error'] or q['rows']}")
    builds = [len([b for q in p["queries"] for b in q["pool"]])
              for p in [warm, *timed, *traced, *paired]]
    if len(set(builds)) != 1:
        problems.append(f"pool builds differ between passes: {builds}")

    measured = timed or paired
    print(f"perfbench {a.workload} seed={a.seed} order={','.join(order)}")
    print("tables: " + " ".join(f"{t}={r}rows/{mb:.2f}MB"
                                for t, (r, mb) in tables.items()))
    print(f"probe_s: pre={probe['pre_s']:.3f} post={probe['post_s']:.3f} "
          f"steal_s={steal:.2f} cpu_s="
          + ",".join(f"{p['cpu_s']:.3f}" for p in measured))
    print(f"warm-up pass wall_s={warm['wall_s']:.3f}; "
          f"{measured[0]['kind']} passes: {len(measured)} wall_s="
          + ",".join(f"{p['wall_s']:.3f}" for p in measured)
          + (" traced wall_s=" + ",".join(f"{p['wall_s']:.3f}" for p in traced)
             if traced else "")
          + " setup_s=" + ",".join(f"{s:.3f}" for s in setup))
    print(f"cache_mb={measured[-1]['cache_bytes'] / 1048576.0:.3f} "
          f"failed_frac={failed / attempted:.4f} "
          f"checked: {sum(1 for s, _ in chk.values() if s == 'PASS')} oracle, "
          f"{sum(1 for s, _ in chk.values() if s == 'SKIP')} rows-only")

    if a.trace:
        untraced = statistics.median(p["wall_s"] for p in paired)
        ms = [layer_metrics(p, spec) for p in traced]
        for k in REPEAT_KEYS:
            if len({m[k] for m in ms}) != 1:
                problems.append(f"{k} differs between traced passes: "
                                f"{[m[k] for m in ms]}")
        # each layer's median over the traced passes; counts stay whole
        m = {}
        for k in set().union(*ms):
            xs = [x.get(k, 0) for x in ms]
            m[k] = (statistics.median_low(xs)
                    if all(isinstance(x, int) for x in xs)
                    else statistics.median(xs))
        m["trace.overhead_frac"] = (
            statistics.median(p["wall_s"] for p in traced) / untraced - 1.0)
        layers = ("build.s", "pool.build_s", "stream.trigger_s", "plan.s",
                  "exec.s")
        m["trace.accounted_frac"] = sum(m[k] for k in layers) / untraced
        # Fixtures build once per JVM, so only the warm-up pass pays them
        fix = [f for q in warm["queries"] for f in q["fixture"]]
        m["fixture.builds"] = len(fix)
        m["fixture.s"] = sum(d for _, d in fix)
        for k in ("sink.s", "source.s", "stream.setup_s",
                  *(f"module.{mod}_s" for mod in MODULES)):
            m.setdefault(k, 0.0)
        metrics = {}
        for k, u in per_layer_units():
            if k not in m:
                fail(f"per-layer metric {k} is not computed")
            metrics[k] = {"value": m[k], "unit": u}
    else:
        wall = statistics.median(p["wall_s"] for p in timed)
        metrics = {"wall_s": {"value": wall, "unit": "s"},
                   "setup_s": {"value": statistics.median(setup), "unit": "s"}}
    for p in problems:
        print(f"problem: {p}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def per_layer_units():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    return [(x["name"], x["unit"]) for x in bench["per_layer"]]


if __name__ == "__main__":
    main()
