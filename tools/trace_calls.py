#!/usr/bin/env python3
"""Per-job breakdown of the warm engine calls in a perfbench trace.

Usage:
    python3 tools/trace_calls.py TRACE [TRACE2]

TRACE is a `perfbench/.work/trace-<workload>-<seed>.jsonl` written by
`perfbench/run.py --trace 1`. A warm call is every `engine.call` span but
the first of its query (graph-small tags each call with its query; the
engine workloads have one query). For each warm call it prints the call's
Spark jobs in order: call site, wall ms, each stage's task CPU seconds,
shuffle MB written and the gap in ms before the next job starts (or, for
the last job, before the call returns), then the medians over the warm
calls. Jobs line up across calls by call site without its line number and
its occurrence within the call ("count at SqlRunner.scala #2").

Given two traces (a parent's and a change's, same workload and seed) it
prints only the medians, side by side, so a change names the layer that
moved.
"""
import json
import re
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def warm_calls(records):
    """The warm engine.call spans, in start order, each with its jobs."""
    spans = sorted((r for r in records if r.get("type") == "span"
                    and r.get("name") == "engine.call"), key=lambda s: s["start_ms"])
    jobs = [r for r in records if r.get("type") == "job" and r.get("end_ms", -1) >= 0]
    seen = set()
    calls = []
    for s in spans:
        query = s.get("query")
        if query in seen:
            mine = sorted((j for j in jobs if j["parent"] == s["id"]),
                          key=lambda j: (j["start_ms"], j["job"]))
            calls.append((s, mine))
        seen.add(query)
    return calls


def site_key(site):
    """A call site without its line number: `count at SqlRunner.scala`."""
    return re.sub(r":\d+$", "", site)


def rows(span, jobs):
    """One row per job of a call: its key, site, wall, stage CPU, shuffle
    MB and the gap before the next job (or the call's end)."""
    end = span["start_ms"] + span["seconds"] * 1000.0
    out = []
    seen = {}
    for i, j in enumerate(jobs):
        key = site_key(j["call_site"])
        seen[key] = seen.get(key, 0) + 1
        nxt = jobs[i + 1]["start_ms"] if i + 1 < len(jobs) else end
        stages = sorted(j.get("stages", []), key=lambda s: s["stage"])
        out.append({
            "key": f"{key} #{seen[key]}", "job": j["job"], "site": j["call_site"],
            "wall_ms": j["end_ms"] - j["start_ms"],
            "cpu_s": [s["cpu_s"] for s in stages],
            "shuffle_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1048576.0,
            "gap_ms": nxt - j["end_ms"],
        })
    return out


def medians(calls):
    """Per job key, in first-seen order: the median of each figure over the
    warm calls that ran it (stage CPU position by position), and the
    median call wall ms under the key `call`."""
    per = {}
    for span, jobs in calls:
        for r in rows(span, jobs):
            per.setdefault(r["key"], []).append(r)
    out = {}
    for key, rs in per.items():
        width = max(len(r["cpu_s"]) for r in rs)
        out[key] = {
            "calls": len(rs),
            "wall_ms": statistics.median(r["wall_ms"] for r in rs),
            "cpu_s": [statistics.median(r["cpu_s"][i] for r in rs if len(r["cpu_s"]) > i)
                      for i in range(width)],
            "shuffle_mb": statistics.median(r["shuffle_mb"] for r in rs),
            "gap_ms": statistics.median(r["gap_ms"] for r in rs),
        }
    out["call"] = {"calls": len(calls), "wall_ms": statistics.median(
        s["seconds"] * 1000.0 for s, _ in calls) if calls else 0.0}
    return out


def cpu(xs):
    return "+".join(f"{x:.3f}" for x in xs) or "-"


HEADER = f"{'job':<38}{'wall_ms':>9}  {'stage_cpu_s':<20}{'shuffle_mb':>11}{'gap_ms':>8}"


def line(label, r):
    return (f"{label:<38}{r['wall_ms']:>9.0f}  {cpu(r['cpu_s']):<20}"
            f"{r['shuffle_mb']:>11.2f}{r['gap_ms']:>8.0f}")


def render_one(path, records):
    calls = warm_calls(records)
    out = [f"== {path}: {len(calls)} warm engine.call spans =="]
    for span, jobs in calls:
        out.append(f"call span {span['id']}{' ' + span['query'] if 'query' in span else ''}:"
                   f" {span['seconds'] * 1000.0:.0f} ms, {len(jobs)} jobs")
        out.append("  " + HEADER)
        out += ["  " + line(f"{r['job']} {r['site']}", r) for r in rows(span, jobs)]
    m = medians(calls)
    out.append(f"median over {len(calls)} warm calls: {m['call']['wall_ms']:.0f} ms per call")
    out.append("  " + HEADER)
    out += ["  " + line(k, r) for k, r in m.items() if k != "call"]
    return "\n".join(out)


def render_pair(path_a, records_a, path_b, records_b):
    a, b = medians(warm_calls(records_a)), medians(warm_calls(records_b))
    out = [f"== medians over warm calls: A = {path_a} ({a['call']['calls']} calls), "
           f"B = {path_b} ({b['call']['calls']} calls) ==",
           f"{'job':<30}{'wall_ms A → B':>18}  {'stage_cpu_s A → B':<30}"
           f"{'shuffle_mb A → B':>20}{'gap_ms A → B':>16}"]

    def pair(x, y, fmt):
        return f"{fmt(x) if x is not None else '-'} → {fmt(y) if y is not None else '-'}"

    ms = lambda v: f"{v:.0f}"
    mb = lambda v: f"{v:.2f}"
    keys = [k for k in a if k != "call"] + [k for k in b if k != "call" and k not in a]
    for k in keys:
        x, y = a.get(k), b.get(k)
        get = lambda r, f: r[f] if r is not None else None
        out.append(f"{k:<30}{pair(get(x, 'wall_ms'), get(y, 'wall_ms'), ms):>18}  "
                   f"{pair(get(x, 'cpu_s'), get(y, 'cpu_s'), cpu):<30}"
                   f"{pair(get(x, 'shuffle_mb'), get(y, 'shuffle_mb'), mb):>20}"
                   f"{pair(get(x, 'gap_ms'), get(y, 'gap_ms'), ms):>16}")
    out.append(f"{'call':<30}{pair(a['call']['wall_ms'], b['call']['wall_ms'], ms):>18}")
    return "\n".join(out)


def main(argv):
    if len(argv) not in (2, 3):
        print("usage: python3 tools/trace_calls.py TRACE [TRACE2]", file=sys.stderr)
        return 2
    if len(argv) == 2:
        print(render_one(argv[1], load(argv[1])))
    else:
        print(render_pair(argv[1], load(argv[1]), argv[2], load(argv[2])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
