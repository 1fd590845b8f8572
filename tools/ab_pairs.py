#!/usr/bin/env python3
"""A/B the benchmark: alternating parent/change pairs of perfbench runs,
summarized against the end-to-end metrics and bounds in BENCHMARK.json.

Run pairs (each side is a full checkout in its own directory, built by
perfbench itself on its first run):
  python3 tools/ab_pairs.py --parent DIR --change DIR --workload stream_cdc \\
      --seeds 101-110 --seconds 5 --out pairs.jsonl

Every run is `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0` in that side's directory, one at a time; the side that runs
first alternates from pair to pair (the parent first in the 1st, 3rd, …
pair of the set, the change first in the 2nd, 4th, …). Each result line is
appended to the JSONL file as it lands, so an interrupted set keeps its
finished runs. Re-print the table of a set without running anything:
  python3 tools/ab_pairs.py --summarize pairs.jsonl

For each end-to-end metric (name, unit, direction, bound) the table gives
each side's median and quartiles, the pairs the change wins (ties count
for neither side), the claim rule — a gain needs >= 9/10 of the pairs
won, a median difference larger than the parent's interquartile range,
and no larger share of failed operations than the parent's — and the
bound check. The bound check reads `unresolved` when either side's
spread (IQR / median) is wider than `bound`, unless every change run is
better than every parent run; otherwise `FAIL` when the change's median
is worse than the parent's by more than `bound` of the parent's median,
and `ok` else. Each workload also reports both sides' share of failed
operations, `FAIL` when the change's is larger.

Each record also carries the run's per-op median latency (`op_medians`,
from the run's full record `perfbench/results/<workload>-seed<N>-trace0.json`,
warm-up and failed ops left out), and the summary ends with a per-op
table: each side's median over its runs of those medians, the change in
per cent, and the pairs the change wins.
"""
import argparse
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_metrics(path=os.path.join(ROOT, "BENCHMARK.json")):
    """The end-to-end metrics: [(name, unit, better, bound)]."""
    with open(path) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]]


def parse_seeds(text):
    """`101-110` or `1,5,9` (or a mix) -> ascending seeds."""
    seeds = set()
    for part in text.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds.update(range(int(lo), int(hi or lo) + 1))
    return sorted(seeds)


def order(index):
    """Which side runs first in the pair at `index` (0-based) of a set:
    the parent in even pairs, the change in odd ones."""
    return ("parent", "change") if index % 2 == 0 else ("change", "parent")


def schedule(seeds):
    """The runs of a set in order: [(seed, side)], alternating per pair."""
    return [(seed, side) for i, seed in enumerate(seeds) for side in order(i)]


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quartiles(xs):
    return quantile(xs, 0.25), quantile(xs, 0.5), quantile(xs, 0.75)


def wins(pairs, better):
    """Pairs (parent, change) the change wins; ties count for neither."""
    if better == "lower":
        return sum(1 for p, c in pairs if c < p)
    return sum(1 for p, c in pairs if c > p)


def gain(parent_median, change_median, better):
    """How much better the change's median is, in the metric's unit
    (negative: worse)."""
    d = parent_median - change_median
    return d if better == "lower" else -d


def all_better(parent, change, better):
    """Whether every change run beats every parent run."""
    if better == "lower":
        return max(change) < min(parent)
    return min(change) > max(parent)


def failed_share(results):
    """Failed operations over attempted ones, across a side's runs."""
    attempted = sum(r.get("attempted") or 0 for r in results)
    return sum(r.get("failed") or 0 for r in results) / attempted if attempted else 0.0


def verdict(parent, change, better, bound, more_failed=False):
    """One metric's comparison over matched runs `parent[i]`/`change[i]`;
    `more_failed`: the change failed a larger share of its operations."""
    p25, p50, p75 = quartiles(parent)
    c25, c50, c75 = quartiles(change)
    n = len(parent)
    won = wins(list(zip(parent, change)), better)
    delta = gain(p50, c50, better)
    iqr = p75 - p25
    worse = -delta / p50 if p50 else 0.0
    spread = max((p75 - p25) / p50 if p50 else 0.0, (c75 - c25) / c50 if c50 else 0.0)
    if spread > bound and not all_better(parent, change, better):
        status = "unresolved"
    else:
        status = "FAIL" if worse > bound else "ok"
    return {
        "parent": (p25, p50, p75), "change": (c25, c50, c75), "pairs": n,
        "wins": won, "gain": delta, "parent_iqr": iqr,
        "claim": n > 0 and won * 10 >= 9 * n and delta > iqr and not more_failed,
        "worse_share": worse, "spread": spread, "bound": status,
    }


def paired(records, workload, field="result"):
    """{seed: {side: record[field]}} for every run of the workload that has
    the field — incorrect runs and runs with failed operations included
    (`table` lists them) — and the seeds with both sides present."""
    by_seed = {}
    for r in records:
        if r["workload"] == workload and r.get(field):
            by_seed.setdefault(r["seed"], {})[r["side"]] = r[field]
    return by_seed, sorted(s for s, v in by_seed.items() if len(v) == 2)


def op_medians(directory, workload, seed):
    """{op name: median latency (s)} of a run's timed, successful ops,
    read from its full record; {} when the record is missing."""
    path = os.path.join(directory, "perfbench", "results", f"{workload}-seed{seed}-trace0.json")
    try:
        with open(path) as fh:
            ops = json.load(fh)["ops"]
    except (OSError, ValueError, KeyError):
        return {}
    lat = {}
    for o in ops:
        if o.get("phase") != "warmup" and o.get("ok"):
            lat.setdefault(o["name"], []).append(o["latency_s"])
    return {name: quantile(xs, 0.5) for name, xs in sorted(lat.items())}


def op_table(records, workload):
    """Per-op lines over the pairs whose both runs carry op medians."""
    by_seed, seeds = paired(records, workload, "op_medians")
    if not seeds:
        return []
    names = sorted(set.intersection(*(set(m) for s in seeds for m in by_seed[s].values())))
    lines = [f"   per-op median latency (s), median over {len(seeds)} pairs:",
             f"   {'op':<26}{'parent':>9}{'change':>9}{'delta':>9}  wins"]
    for name in names:
        p = [by_seed[s]["parent"][name] for s in seeds]
        c = [by_seed[s]["change"][name] for s in seeds]
        pm, cm = quantile(p, 0.5), quantile(c, 0.5)
        rel = f"{cm / pm - 1:+.1%}" if pm else "n/a"
        lines.append(f"   {name:<26}{pm:>9.3f}{cm:>9.3f}{rel:>9}  "
                     f"{wins(list(zip(p, c)), 'lower')}/{len(seeds)}")
    return lines


def table(records, workload, metrics):
    by_seed, seeds = paired(records, workload)
    lines = [f"== {workload}: {len(seeds)} pairs (seeds {', '.join(map(str, seeds))})"]
    bad = [(s, side) for s in seeds for side, r in by_seed[s].items()
           if not r.get("correct") or r.get("failed")]
    for s, side in bad:
        r = by_seed[s][side]
        lines.append(f"   seed {s} {side}: correct={r.get('correct')} "
                     f"failed={r.get('failed')}/{r.get('attempted')}")
    if not seeds:
        return "\n".join(lines)
    shares = {side: failed_share([by_seed[s][side] for s in seeds])
              for side in ("parent", "change")}
    more_failed = shares["change"] > shares["parent"]
    lines.append(f"   failed ops: parent {shares['parent']:.1%}, change {shares['change']:.1%}"
                 f"  {'FAIL' if more_failed else 'ok'}")
    fmt = "{:.3f}/{:.3f}/{:.3f}"
    lines.append(f"   {'metric':<16}{'unit':<5}{'better':<7}{'parent q1/med/q3':<24}"
                 f"{'change q1/med/q3':<24}{'wins':<7}{'gain':>8}{'p.IQR':>8}"
                 f"  claim  bound")
    for name, unit, better, bound in metrics:
        p = [by_seed[s]["parent"]["metrics"][name]["value"] for s in seeds]
        c = [by_seed[s]["change"]["metrics"][name]["value"] for s in seeds]
        v = verdict(p, c, better, bound, more_failed)
        lines.append(
            f"   {name:<16}{unit:<5}{better:<7}{fmt.format(*v['parent']):<24}"
            f"{fmt.format(*v['change']):<24}{v['wins']:>2}/{v['pairs']:<4}"
            f"{v['gain']:>8.3f}{v['parent_iqr']:>8.3f}  {'yes' if v['claim'] else 'no ':<5}  "
            f"{v['bound']} (worse {v['worse_share']:+.1%}, "
            f"spread {v['spread']:.2f} of {bound})")
    return "\n".join(lines + op_table(records, workload))


def summarize(path, metrics):
    with open(path) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    workloads = sorted({r["workload"] for r in records})
    return "\n".join(table(records, w, metrics) for w in workloads)


def run_one(directory, workload, seed, seconds):
    """One untraced perfbench run in `directory`; its result line."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=directory, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [line for line in p.stdout.splitlines() if line.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"perfbench failed in {directory} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--summarize", metavar="JSONL", help="print the table of a finished set")
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", default="stream_cdc")
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out", help="JSONL file the result lines are appended to")
    a = ap.parse_args(argv)
    metrics = load_metrics()
    if a.summarize:
        print(summarize(a.summarize, metrics))
        return
    if not (a.parent and a.change and a.out):
        ap.error("running pairs needs --parent, --change and --out")
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for seed, side in schedule(parse_seeds(a.seeds)):
        result = run_one(dirs[side], a.workload, seed, a.seconds)
        with open(a.out, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": seed, "side": side,
                                 "result": result,
                                 "op_medians": op_medians(dirs[side], a.workload, seed)})
                     + "\n")
        print(f"[ab_pairs] {a.workload} seed {seed} {side}: "
              + " ".join(f"{m}={result['metrics'][m]['value']:.3f}"
                         for m, _, _, _ in metrics),
              file=sys.stderr, flush=True)
    print(summarize(a.out, metrics))


if __name__ == "__main__":
    main()
