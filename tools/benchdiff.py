#!/usr/bin/env python3
"""Dev-only probe-normalized bench comparison (the round-7
adjudication fix): separates "the engine got slower" from "the machine
was busy" when diffing bench artifacts across rounds.

    python3 tools/benchdiff.py OLD.json NEW.json [--threshold 1.3]

Both files are BENCH_FULL.json-style artifacts (the short BENCH_r{N}
lines also parse — they just cover the headline subset and carry only
the pre/post calib pair). Each per-query ratio new/old is divided by
the artifacts' ambient-load factor, estimated from the calibration
probes: the CPU-bound probe measures machine speed, so
(new_probe/old_probe) is the expected ratio of a query that did NOT
change. With calib_series (round-8+ artifacts) the probe nearest the
query in sweep order is used, which localizes mid-sweep load bursts;
older artifacts fall back to the pre/post pair's median.

Codegen compile counts (`codegen_compiles`, where both artifacts carry
them) are compared without any of that: they are fixed by the plans,
so every per-query rise is listed.

MEASUREMENT BREAK (r6 -> r7): pre-r7 artifacts were materialized via
df.count(), which let Catalyst prune cardinality-preserving work
(windows, sorts, ALL column evaluation) — expression-bound queries
were timed as bare scans. r7+ uses toRdd.count() (the real output
plan). Ratios of expression-heavy queries across that boundary reflect
the measurement fix, not a regression; compare r7+ against r7+.
"""
import json
import statistics
import sys


def load(path):
    """Parse any bench artifact the rounds actually produce:
    - BENCH_FULL.json / a raw Bench stdout line (one JSON object);
    - the driver's BENCH_r{N}.json wrapper {n, rc, cpus, sf, tail,
      parsed} — payload is either `parsed` or the '{"metric":"total"'
      line buried in the captured `tail` (round-8 verdict: `parsed`
      is null whenever the full map overflowed the capture)."""
    with open(path) as f:
        txt = f.read()
    try:
        obj = json.loads(txt)
    except json.JSONDecodeError:
        obj = json.loads(txt.splitlines()[0])
    if isinstance(obj, dict) and "metric" not in obj and "tail" in obj:
        if obj.get("parsed"):
            return obj["parsed"]
        for line in reversed(obj.get("tail", "").splitlines()):
            i = line.find('{"metric"')
            if i >= 0:
                return json.loads(line[i:])
        raise ValueError(f"{path}: driver wrapper carries no "
                         '\'{"metric"\' line in tail')
    return obj


def local_burst(art, name, order):
    """WITHIN-artifact load factor near query `name`: the nearest
    calib_series probe at-or-after it in sweep order, divided by that
    artifact's own series median. 1.0 = no local burst. Probes are only
    ever compared to probes of the SAME artifact — the interleaved
    probes (min-of-2, run amid sweep residue) and the pre/post
    calibrate() pair (min-of-3, quiet JVM) measure the same workload
    under different conditions, so their absolute values are not
    comparable across kinds or artifacts."""
    series = art.get("calib_series") or []
    pos = order.get(name)
    if not series or pos is None:
        return 1.0
    # probes are tagged with the query they ran AFTER; collapse to a
    # per-position MIN across passes FIRST (matching best-of-2 query
    # timing), and take the baseline median over that SAME min series —
    # comparing a min against the median of raw per-pass probes put
    # every burst factor systematically below 1, which inflated
    # normalized ratios whenever only one artifact carried a series
    by_pos = {}
    for _, after, sec in series:
        apos = order.get(after)
        if apos is not None:
            by_pos[apos] = min(by_pos.get(apos, sec), sec)
    if not by_pos:
        return 1.0
    med = statistics.median(by_pos.values())
    ats = [a for a in by_pos if a >= pos]
    if not ats or not med:
        return 1.0
    return by_pos[min(ats)] / med


def machine_speed(art):
    """Cross-artifact machine-speed proxy: the pre/post calibrate()
    median (same workload and same min-of-3 discipline in every
    artifact generation, so these ARE comparable across artifacts)."""
    calib = art.get("calib") or {}
    vals = [v for v in (calib.get("pre"), calib.get("post"))
            if v is not None]
    return statistics.median(vals) if vals else None


def codegen_rises(old, new):
    """Per-query rises in generated-class compiles: `codegen_compiles`
    (warm pass) and `cold_components[q].codegen_compiles` (cold pass).
    The counts are fixed by the plans and the suite order, not by the
    machine, so any rise is flagged as is: no noise band, no probe
    normalization. Artifacts without the fields compare as empty."""
    def warm(art):
        return art.get("codegen_compiles") or {}

    def cold(art):
        return {k: v["codegen_compiles"]
                for k, v in (art.get("cold_components") or {}).items()
                if "codegen_compiles" in v}
    rises = []
    for label, get in (("warm", warm), ("cold", cold)):
        o, n = get(old), get(new)
        rises += [(q, label, o[q], n[q]) for q in sorted(set(o) & set(n))
                  if n[q] > o[q]]
    return rises


def main(old_path, new_path, threshold=1.3):
    old, new = load(old_path), load(new_path)
    oq = {k: v for k, v in old.get("queries", {}).items() if v > 0}
    nq = {k: v for k, v in new.get("queries", {}).items() if v > 0}
    shared = sorted(set(oq) & set(nq))
    if not shared:
        print("no shared queries between artifacts")
        return 1
    oorder = {k: i for i, k in enumerate(sorted(oq))}
    norder = {k: i for i, k in enumerate(sorted(nq))}

    mo, mn = machine_speed(old), machine_speed(new)
    speed = (mn / mo) if (mo and mn) else 1.0
    # stream_* queries: when BOTH artifacts carry a stream_breakdown
    # entry (round-10+), compare the WORK component (drain =
    # Σ triggerExecution) instead of the total — the ~2 s fixed
    # checkpoint/RocksDB/AvailableNow setup otherwise swamps any real
    # per-batch regression. Sub-0.2 s drains are noise-floor; fall
    # back to the total there.
    ob, nb = old.get("stream_breakdown") or {}, new.get(
        "stream_breakdown") or {}
    # batch queries: when BOTH artifacts carry a run_s entry
    # (round-11+), compare the RUN component (wall minus one-time
    # fixture builds and CachePool materializations) instead of the
    # total — a pool rebuild charged to its alphabetically-first
    # consumer otherwise masquerades as that query's regression
    # (r10's sim_ann_lsh 1.7x flag was exactly this). Sub-10 ms runs
    # are noise-floor; fall back to the total there.
    orn, nrn = old.get("run_s") or {}, new.get("run_s") or {}
    rows = []
    n_work = 0
    n_run = 0
    for name in shared:
        o_t, n_t = oq[name], nq[name]
        if (name in ob and name in nb
                and ob[name].get("drain", 0) > 0.2
                and nb[name].get("drain", 0) > 0.2):
            o_t, n_t = ob[name]["drain"], nb[name]["drain"]
            n_work += 1
        elif (orn.get(name, 0) > 0.01 and nrn.get(name, 0) > 0.01):
            o_t, n_t = orn[name], nrn[name]
            n_run += 1
        raw = n_t / o_t
        # expected ratio of an unchanged query = cross-artifact machine
        # speed x the ratio of local bursts near it in each sweep
        load_factor = speed * (local_burst(new, name, norder) /
                               local_burst(old, name, oorder))
        rows.append((name, o_t, n_t, raw, raw / load_factor))

    norm_ratios = [r[4] for r in rows]
    med = statistics.median(norm_ratios)
    print(f"{len(shared)} shared queries ({n_work} compared on stream "
          f"work, {n_run} on the run_s component); "
          f"median probe-normalized ratio {med:.2f}")
    print(f"ambient-load factor (new calib / old calib) ~{speed:.2f}")
    rises = codegen_rises(old, new)
    if rises:
        print(f"\n{len(rises)} per-query rises in codegen compiles:")
        print(f"{'query':34s} {'pass':>5s} {'old':>6s} {'new':>6s}")
        for name, label, o, n in rises:
            print(f"{name:34s} {label:>5s} {o:6d} {n:6d}")
    flagged = [r for r in rows if r[4] > threshold or r[4] < 1 / threshold]
    if not flagged:
        print(f"no query beyond {threshold}x after normalization")
        return 0
    print(f"\n{'query':34s} {'old_s':>8s} {'new_s':>8s} "
          f"{'raw':>6s} {'norm':>6s}")
    for name, o, n, raw, norm in sorted(flagged, key=lambda r: -r[4]):
        print(f"{name:34s} {o:8.3f} {n:8.3f} {raw:6.2f} {norm:6.2f}")
    return 0


if __name__ == "__main__":
    thr = 1.3
    argv = sys.argv[1:]
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--threshold"):
            if "=" in a:
                thr = float(a.split("=", 1)[1])
            else:  # consume the space-separated value too
                thr = float(argv[i + 1])
                i += 1
        else:
            args.append(a)
        i += 1
    sys.exit(main(args[0], args[1], thr))
