"""Diff two sets of benchmark captures, workload by workload.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are capture files written by perfbench/run.py, or
directories of them (the usual case: perfbench/captures/ of the parent and
of the change, several seeds each). Captures are paired by seed: only
seeds captured on both sides are compared, so both medians are taken over
the same inputs. For every workload present on both sides it prints:

  - end-to-end metrics (untraced captures): each side's median and spread
    (IQR ÷ median) over the paired seeds, judged against the metric's
    bound in BENCHMARK.json — WORSE, BETTER or same, or UNRESOLVED when
    either side's spread is wider than the bound (or a side has fewer
    than four seeds), since then a delta within the bound proves nothing;
  - per-layer counts (traced captures: jobs, stages, tasks, files,
    commits, actions, classes): compared exactly, EQUAL or DIFFERS;
  - every other per-layer metric (wall times, sizes, ratios), for
    information only, since wall time on a shared box drifts.

Exit code 1 when any end-to-end metric is WORSE, 3 when none is WORSE but
some is UNRESOLVED, else 0.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_SEEDS = 4


def load(path):
    """Captures under `path` (a file or a directory), as a list of dicts."""
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json"))
    else:
        files = [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def values(captures, section):
    """metric → ([values], unit) over the captures' `section`."""
    vals, units = {}, {}
    for c in captures:
        for k, m in c.get(section, {}).items():
            if m["value"] is not None:
                vals.setdefault(k, []).append(m["value"])
                units[k] = m["unit"]
    return {k: (v, units[k]) for k, v in vals.items()}


def spread(vals):
    """IQR ÷ median (statistics.quantiles, n=4), or None with fewer than
    MIN_SEEDS values or a zero median."""
    med = statistics.median(vals)
    if len(vals) < MIN_SEEDS or med == 0:
        return None
    q = statistics.quantiles(vals, n=4)
    return (q[2] - q[0]) / abs(med)


def paired(base_caps, change_caps):
    """The captures of each side whose seed the other side has too."""
    common = {c["seed"] for c in base_caps} & {c["seed"] for c in change_caps}
    return ([c for c in base_caps if c["seed"] in common],
            [c for c in change_caps if c["seed"] in common])


def verdict(base, change, better, bound, spreads=(0.0, 0.0)):
    """WORSE / BETTER / same for one end-to-end metric's medians, or
    UNRESOLVED when a side's spread is unknown or wider than the bound."""
    if any(s is None or s > bound for s in spreads):
        return "UNRESOLVED"
    if base == 0:
        return "same" if change == 0 else "DIFFERS"
    rel = (change - base) / abs(base)
    worse = rel > bound if better == "lower" else rel < -bound
    gain = rel < -bound if better == "lower" else rel > bound
    return "WORSE" if worse else "BETTER" if gain else "same"


def layer_moves():
    """per-layer metric → the end-to-end metrics it should move (layers.json)."""
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    return {m: "; ".join(v["moves"]) for v in layers.values() for m in v["metrics"]}


def is_count(name, unit):
    return unit == "count" and not name.startswith("traced.")


def compare(base_caps, change_caps, spec):
    """Print the report; returns {(workload, metric): verdict} for the
    end-to-end metrics with a bound."""
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    moves = layer_moves()
    verdicts = {}
    workloads = sorted({c["workload"] for c in base_caps} & {c["workload"] for c in change_caps})
    for w in workloads:
        print(f"== {w}")
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            b0 = [x for x in base_caps if x["workload"] == w and x["trace"] == trace]
            c0 = [x for x in change_caps if x["workload"] == w and x["trace"] == trace]
            b, c = paired(b0, c0)
            if b0 and c0 and not b:
                print(f"  {section}: no seed captured on both sides")
            if not b or not c:
                continue
            vb, vc = values(b, section), values(c, section)
            print(f"  {section} ({len(b)} base / {len(c)} change captures,"
                  f" seeds {sorted({x['seed'] for x in b})})")
            for k in sorted(set(vb) & set(vc)):
                (xb, unit), (xc, _) = vb[k], vc[k]
                mb, mc = statistics.median(xb), statistics.median(xc)
                delta = f"{mc - mb:+.4g} {unit}"
                if section == "end_to_end" and k in bounds:
                    sp = (spread(xb), spread(xc))
                    v = verdict(mb, mc, bounds[k]["better"], bounds[k]["bound"], sp)
                    verdicts[(w, k)] = v
                    shown = "/".join("n/a" if x is None else f"{x:.0%}" for x in sp)
                    tag = f"{v} (bound {bounds[k]['bound']:.0%}, spread {shown})"
                elif section == "end_to_end":
                    tag = "info"
                elif is_count(k, unit):
                    tag = "EQUAL" if mb == mc else f"DIFFERS (should move {moves.get(k, '?')})"
                else:
                    tag = "info"
                print(f"    {k:<34} {mb:>14.4f} -> {mc:>14.4f}  {delta:>16}  {tag}")
    return verdicts


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    verdicts = compare(load(argv[1]), load(argv[2]), spec)
    for tag, code in (("WORSE", 1), ("UNRESOLVED", 3)):
        hit = [f"{w}/{k}" for (w, k), v in sorted(verdicts.items()) if v == tag]
        if hit:
            print(f"{tag}: " + ", ".join(hit))
            return code
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
