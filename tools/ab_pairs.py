#!/usr/bin/env python3
"""Parent/change A/B pairs of one perfbench workload.

Runs `python3 perfbench/run.py` for the parent's BENCHMARK.json
`run_seconds` alternately in two checkouts of the repository, one pair
per seed (seeds FIRST .. FIRST+PAIRS-1; even pairs
run the parent first, odd pairs the change first), and for every
end-to-end metric in the parent's BENCHMARK.json prints:

  - each side's median and quartiles;
  - the pairs the change won (ties count for neither side);
  - the gain verdict: the change wins at least 9/10 of the pairs and its
    median is better than the parent's by more than the parent's
    interquartile range;
  - the bound verdict: the change's median is no worse than the parent's
    by more than the metric's bound (a fraction of the parent's median).
    When the parent's own interquartile range is wider than the bound,
    the metric is "unresolved", unless every change run reads better
    than every parent run.

perfbench builds each checkout on its first run there, outside every
metric. Nothing under perfbench/ is changed; each run's result line is
appended to --out as JSON, if given.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload elt_rebuild --pairs 10 --seed 101
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN_TIMEOUT_S = 900  # one run; an elt_rebuild run takes about a minute


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns its result line (a dict, with the detail
    line under `detail`), or a dict with `error` when the run printed
    none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    try:
        res = json.loads(lines[-1])
        assert "metrics" in res
    except (IndexError, ValueError, AssertionError):
        return {"error": f"exit {p.returncode}, no result line; stderr tail: "
                         + p.stderr[-400:].replace("\n", " | ")}
    details = [json.loads(ln)["detail"] for ln in lines if ln.startswith('{"detail"')]
    if details:
        res["detail"] = details[-1]
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value is all three."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdicts(metric, pairs, n_run):
    """The summary of one end-to-end metric over the (parent, change)
    values of the pairs where both runs were correct; `n_run` pairs were
    run in all, and a gain needs 9/10 of them won."""
    sign = 1.0 if metric["better"] == "lower" else -1.0
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    iqr = pq3 - pq1
    gap = sign * (pmed - cmed)  # > 0: the change is better
    gain = wins >= 0.9 * n_run and gap > iqr
    bound = metric["bound"]
    worse_by = -gap / pmed if pmed else 0.0  # > 0: the change is worse
    all_better = all(sign * (p - c) > 0 for p in par for c in chg)
    spread = iqr / pmed if pmed else 0.0
    if spread > bound:
        within = "better in every run" if all_better else "unresolved"
    else:
        within = "within" if worse_by <= bound else "WORSE than"
    return {"parent": (pmed, pq1, pq3), "change": (cmed, cq1, cq3),
            "wins": wins, "losses": losses, "n": n_run,
            "ratio": cmed / pmed if pmed else float("nan"),
            "gain": gain, "gap": gap, "parent_iqr": iqr,
            "bound": bound, "within": within}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--out", help="append every run's result line here (JSONL)")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    results = []  # (seed, {"parent": res, "change": res})
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            res = run_once(sides[side], args.workload, seed, spec["run_seconds"])
            pair[side] = res
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                         "side": side, "result": res}) + "\n")
            if "error" in res:
                shown = res["error"]
            else:
                shown = (f"correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                         + " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.2f}"
                                    for m in metrics))
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side:6s} {shown}", flush=True)
        results.append((seed, pair))

    def ok(res):
        return "error" not in res and res["correct"] and res["failed"] == 0

    good = [(s, p) for s, p in results if ok(p["parent"]) and ok(p["change"])]
    bad = len(results) - len(good)
    print(f"\n{args.workload}: {len(good)} of {len(results)} pairs with both runs "
          f"correct and 0 failed" + (f" ({bad} left out)" if bad else ""))
    if not good:
        sys.exit(1)
    for m in metrics:
        name = m["name"]
        v = verdicts(m, [(p["parent"]["metrics"][name]["value"],
                          p["change"]["metrics"][name]["value"]) for _, p in good],
                     len(results))
        pm, pq1, pq3 = v["parent"]
        cm, cq1, cq3 = v["change"]
        print(f"{name:12s} parent {pm:9.2f} [{pq1:.2f}, {pq3:.2f}]  "
              f"change {cm:9.2f} [{cq1:.2f}, {cq3:.2f}] {m['unit']}  "
              f"change/parent {v['ratio']:.3f}  wins {v['wins']}/{v['n']} "
              f"(losses {v['losses']})  gain: {'yes' if v['gain'] else 'no'} "
              f"(gap {v['gap']:.2f} vs parent IQR {v['parent_iqr']:.2f})  "
              f"bound {v['bound']}: {v['within']}")


if __name__ == "__main__":
    main()
