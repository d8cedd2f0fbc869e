#!/usr/bin/env python3
"""Executor CPU samples of a JFR recording, bucketed by engine phase.

Usage:
    python3 tools/jfr_phases.py DUMP [DUMP2]

DUMP is the text of `jfr print --stack-depth 80 --events jdk.ExecutionSample
REC.jfr`. Only samples of Spark's executor threads ("Executor task launch
worker ...") count. Each sample goes to the bucket of its innermost frame
that names one: the fold (or the row scatter it replaced), the vertex
update, the sender pack, the edge index build, a hash aggregation map, the
shuffle, a whole-stage-codegen stage; a sample with no such frame is
"other". Generated projections and shared helpers (sorts, permutations)
name no bucket, so their samples go to the phase that called them.

It prints each bucket's samples and share of the executor samples; given
two dumps (a parent's and a change's), side by side.
"""
import re
import sys

# (bucket, frame pattern), tried in this order on each frame from the
# innermost out: the first frame that matches any pattern decides.
BUCKETS = [
    ("hash map", re.compile(r"UnsafeFixedWidthAggregationMap|BytesToBytesMap|FastHashMap")),
    ("fold/scatter", re.compile(r"graft\.engine\.(Fold\$|EdgeIndex\$Scatter|"
                                r"EdgeIndex\$\.(\$anonfun\$)?(fold|scatter)\b)")),
    ("update", re.compile(r"graft\.engine\.VertexState\$\.(\$anonfun\$)?merge\b")),
    ("pack", re.compile(r"graft\.engine\.Frontier\$")),
    ("index build", re.compile(r"graft\.engine\.EdgeIndex\$\.(\$anonfun\$)?"
                               r"(merge|chunks|shipped|build)\b")),
    ("shuffle", re.compile(r"org\.apache\.spark\.shuffle\.|ShuffleBlockFetcherIterator|"
                           r"ExternalSorter|ShuffleWriter")),
    ("codegen stage", re.compile(r"GeneratedIteratorForCodegenStage")),
]
ORDER = [name for name, _ in BUCKETS] + ["other"]
EXECUTOR = "Executor task launch worker"


def samples(text):
    """(thread, frames innermost first) of every jdk.ExecutionSample."""
    out = []
    for block in text.split("jdk.ExecutionSample {")[1:]:
        thread = re.search(r'sampledThread = "([^"]*)"', block)
        stack = re.search(r"stackTrace = \[\n(.*?)\n\s*\]", block, re.S)
        frames = [f.strip() for f in stack.group(1).splitlines()] if stack else []
        out.append((thread.group(1) if thread else "", frames))
    return out


def bucket(frames):
    for frame in frames:
        for name, pattern in BUCKETS:
            if pattern.search(frame):
                return name
    return "other"


def phases(text):
    """Executor samples per bucket, and their total."""
    counts = dict.fromkeys(ORDER, 0)
    total = 0
    for thread, frames in samples(text):
        if EXECUTOR in thread:
            counts[bucket(frames)] += 1
            total += 1
    return counts, total


def report(dumps):
    results = [phases(d) for d in dumps]
    width = max(len(n) for n in ORDER)
    lines = []
    for name in ORDER + ["executor samples"]:
        cells = []
        for counts, total in results:
            n = total if name == "executor samples" else counts[name]
            share = 100.0 * n / total if total else 0.0
            cells.append(f"{n:>7} {share:5.1f}%")
        lines.append(f"{name:<{width}}  " + "   ".join(cells))
    return "\n".join(lines)


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    dumps = []
    for path in argv[1:]:
        with open(path) as f:
            dumps.append(f.read())
    print(report(dumps))


if __name__ == "__main__":
    main(sys.argv)
