#!/usr/bin/env python3
"""Dev-only same-box worktree A/B (round-13 verdict ask #5 — the
manual adjudication protocol promoted to a tool): when a bench diff
flags a query, the question is "did a COMMIT move it, or the machine?"
benchdiff.py answers that across ROUNDS by probe normalization; this
tool answers it within ONE box and hour by actually running both
code states on the same fixture, interleaved.

    python3 tools/abdiff.py <commitA> [<commitB>] -- <query> [query...]
    python3 tools/abdiff.py d723148 -- graph_pagerank graph_linkpred

commitB defaults to WORKING (the current working tree, uncommitted
changes included). commitA (and a non-WORKING commitB) is checked out
into a git worktree under .tmp/, compiled there, and the IDENTICAL
filtered Bench subset runs alternately A,B,A,B,... (--rounds pairs,
default 2) so an ambient-load burst lands on both sides rather than
on whichever side happened to run inside it. Per query the paired
mins are compared, plus each side's calib probes so the reader can
see whether the box itself drifted between passes.

Exit 0 always (adjudication output, not a gate); the table is the
deliverable — paste it into PLANS.md next to the flag it clears.

    python3 tools/abdiff.py --perfbench <workload> [--pairs N] [--seed S]
        <commitA> [<commitB>]

runs the declared benchmark (BENCHMARK.json's command, `--trace 0`,
its run_seconds) instead: N pairs (default 10), pair i on seed S+i in
both checkouts, alternating which side runs first. For each end-to-end
metric it prints each side's median and quartiles, B's wins and the
benchmark's rule for a claimed gain (B wins at least 9/10 of the pairs
and the medians differ by more than A's interquartile range), and
whether B's median is worse than A's by more than the metric's bound.
It also counts each side's runs that report `correct: false`,
`failed > 0` or no result. A commit argument that names a directory is
used as an existing checkout (its `.bench_build/` and `.bench_data/`
are reused).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sh(cmd, cwd=REPO, capture=False):
    if capture:
        return subprocess.run(cmd, cwd=cwd, check=True, text=True,
                              capture_output=True).stdout
    subprocess.run(cmd, cwd=cwd, check=True)


def ensure_worktree(commit):
    """Worktree for `commit` under .tmp/ (gitignored), reused if it
    already exists at the right revision. A directory is taken as an
    existing checkout."""
    if os.path.isdir(commit):
        return os.path.abspath(commit)
    short = sh(["git", "rev-parse", "--short", commit],
               capture=True).strip()
    path = os.path.join(REPO, ".tmp", f"ab-{short}")
    if os.path.isdir(path):
        at = sh(["git", "rev-parse", "--short", "HEAD"], cwd=path,
                capture=True).strip()
        if at == short:
            return path
        sh(["git", "worktree", "remove", "--force", path])
    os.makedirs(os.path.join(REPO, ".tmp"), exist_ok=True)
    sh(["git", "worktree", "add", "--force", path, commit])
    return path


def bench_once(cwd, queries, sf_dir, cpus):
    """One filtered Bench sweep; returns (per-query best-of-2 secs,
    calib dict). The filtered run never clobbers BENCH_FULL.json."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=str(cpus))
    cmd = ["sbt", "-batch", "runMain graft.Bench " + " ".join(queries)]
    out = subprocess.run(cmd, cwd=cwd, env=env, text=True,
                         capture_output=True)
    for line in reversed(out.stdout.splitlines()):
        i = line.find('{"metric"')
        if i >= 0:
            obj = json.loads(line[i:])
            return obj.get("queries", {}), obj.get("calib", {})
    sys.stderr.write(out.stdout[-4000:] + "\n" + out.stderr[-4000:] + "\n")
    raise SystemExit(f"no bench line from {cwd}")


def perfbench_once(cwd, bench, workload, seed):
    """One `--trace 0` benchmark run; its result object, or None when
    the run printed none."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=cwd, text=True, capture_output=True)
    for line in reversed(out.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-2000:] + "\n")
    return None


def perfbench_ab(workload, pairs, seed0, dir_a, dir_b):
    """Interleaved A/B of the declared benchmark; returns the report
    as a dict and prints it as a table."""
    bench = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    runs = {"A": [], "B": []}
    for i in range(pairs):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for side in order:
            d = dir_a if side == "A" else dir_b
            runs[side].append(perfbench_once(d, bench, workload, seed0 + i))
        print(f"[abdiff] {workload} pair {i + 1}/{pairs} "
              f"(seed {seed0 + i}, {order[0]} first) done", file=sys.stderr)

    bad = {side: sum(1 for r in rs if r is None or not r["correct"]
                     or r["failed"] > 0) for side, rs in runs.items()}
    rows = []
    print(f"\nworkload={workload} pairs={pairs} seeds={seed0}.."
          f"{seed0 + pairs - 1} bad runs (correct false, failed > 0 or "
          f"no result): A={bad['A']} B={bad['B']}")
    print(f"{'metric':<10} {'A q1/med/q3':>22} {'B q1/med/q3':>22} "
          f"{'B wins':>7} {'gain rule':>9} {'bound':>6}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        both = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                for a, b in zip(runs["A"], runs["B"]) if a and b]
        if len(both) < 2:
            print(f"{name:<10} fewer than two complete pairs")
            continue
        xa, xb = [a for a, _ in both], [b for _, b in both]
        qa, qb = (statistics.quantiles(x, n=4, method="inclusive")
                  for x in (xa, xb))
        wins = sum(1 for a, b in both if (b < a if lower else b > a))
        gain = qa[1] - qb[1] if lower else qb[1] - qa[1]
        # a pair with a missing run counts as a pair the change lost
        rule = wins >= 0.9 * pairs and gain > qa[2] - qa[0]
        worse = -gain / qa[1] if qa[1] else 0.0
        within = worse <= m["bound"]
        rows.append({"metric": name, "a": xa, "b": xb, "a_quartiles": qa,
                     "b_quartiles": qb, "b_wins": wins,
                     "gain_rule": rule, "worse_frac": worse,
                     "within_bound": within})
        print(f"{name:<10} "
              + f"{'/'.join(f'{x:.3f}' for x in qa):>22} "
              + f"{'/'.join(f'{x:.3f}' for x in qb):>22} "
              + f"{f'{wins}/{pairs}':>7} {'holds' if rule else 'no':>9} "
              + f"{'ok' if within else 'WORSE':>6}")
    return {"workload": workload, "pairs": pairs, "seed0": seed0,
            "bad_runs": bad, "rows": rows}


def perfbench_main(argv):
    ap = argparse.ArgumentParser(prog="abdiff.py")
    ap.add_argument("--perfbench", required=True, metavar="WORKLOAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("commit_a")
    ap.add_argument("commit_b", nargs="?", default="WORKING")
    a = ap.parse_args(argv)
    dir_a = ensure_worktree(a.commit_a)
    dir_b = REPO if a.commit_b == "WORKING" else ensure_worktree(a.commit_b)
    print(f"A = {a.commit_a} ({dir_a})\nB = {a.commit_b} ({dir_b})")
    rep = perfbench_ab(a.perfbench, a.pairs, a.seed, dir_a, dir_b)
    print(json.dumps({"a": a.commit_a, "b": a.commit_b, **rep}))
    return 0


def main():
    argv = sys.argv[1:]
    if "--perfbench" in argv:
        return perfbench_main(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = 2
    pos, queries, seen_sep = [], [], False
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--":
            seen_sep = True
        elif a == "--rounds":
            rounds = int(argv[i + 1]); i += 1
        elif a == "--sf":
            sf_dir = argv[i + 1]; i += 1
        elif a == "--cpus":
            cpus = int(argv[i + 1]); i += 1
        elif seen_sep:
            queries.append(a)
        else:
            pos.append(a)
        i += 1
    if not pos or not queries:
        sys.stderr.write(__doc__)
        return 2
    commit_a = pos[0]
    commit_b = pos[1] if len(pos) > 1 else "WORKING"
    dir_a = ensure_worktree(commit_a)
    dir_b = REPO if commit_b == "WORKING" else ensure_worktree(commit_b)

    # compile both sides up front so the first timed sweep isn't
    # absorbing a build
    for d in {dir_a, dir_b}:
        sh(["sbt", "-batch", "compile"], cwd=d)

    runs_a, runs_b, calibs_a, calibs_b = [], [], [], []
    for r in range(rounds):
        qa, ca = bench_once(dir_a, queries, sf_dir, cpus)
        runs_a.append(qa); calibs_a.append(ca)
        qb, cb = bench_once(dir_b, queries, sf_dir, cpus)
        runs_b.append(qb); calibs_b.append(cb)
        print(f"[abdiff] pair {r + 1}/{rounds} done", file=sys.stderr)

    def best(runs, q):
        vals = [m[q] for m in runs if m.get(q, -1) is not None
                and m.get(q, -1) >= 0]
        return min(vals) if vals else float("nan")

    def calib_med(calibs):
        vals = [v for c in calibs for v in c.values()
                if isinstance(v, (int, float))]
        return statistics.median(vals) if vals else float("nan")

    cal_a, cal_b = calib_med(calibs_a), calib_med(calibs_b)
    ambient = cal_b / cal_a if cal_a and cal_a > 0 else float("nan")
    rows = []
    print(f"\nA = {commit_a} ({dir_a})")
    print(f"B = {commit_b} ({dir_b})")
    print(f"sf={sf_dir} cpus={cpus} pairs={rounds} "
          f"calibA={cal_a:.3f}s calibB={cal_b:.3f}s "
          f"ambient B/A={ambient:.2f}")
    print(f"{'query':<28} {'A_s':>8} {'B_s':>8} {'B/A':>6} {'norm':>6}")
    for q in queries:
        a, b = best(runs_a, q), best(runs_b, q)
        ratio = b / a if a and a > 0 else float("nan")
        norm = ratio / ambient if ambient and ambient > 0 else float("nan")
        rows.append({"query": q, "a_s": a, "b_s": b,
                     "ratio": ratio, "norm": norm})
        print(f"{q:<28} {a:>8.3f} {b:>8.3f} {ratio:>6.2f} {norm:>6.2f}")
    print(json.dumps({"a": commit_a, "b": commit_b, "sf": sf_dir,
                      "pairs": rounds, "calib_a": cal_a,
                      "calib_b": cal_b, "ambient": ambient,
                      "rows": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
