#!/usr/bin/env python3
"""Share of JFR CPU samples by category, split into task and driver threads.

    jfr print --stack-depth 64 --events jdk.ExecutionSample rec.jfr \\
      | python3 scripts/jfr_split.py [--other 10]

Reads the text `jfr print` writes for `jdk.ExecutionSample` events (from
stdin, or from the files named on the command line). A sample is a *task*
sample when its thread is one of Spark's `Executor task launch worker`
threads and a *driver* sample otherwise. Each sample gets the category of
the innermost frame that matches one of CATEGORIES, else `other`. The
stack depth bounds what can match: `jfr print` keeps 5 frames unless told
otherwise. `--other N` also lists the N most frequent innermost frames of
the `other` samples, for checking the patterns.
"""
import argparse
import collections
import re
import sys

# (category, substrings of a frame). Matched from the innermost frame
# outwards; at one frame the first category listed wins.
CATEGORIES = [
    ("pack", ["graft.cc.PackedPairs"]),
    ("scan", ["graft.cc.StarOps$Scan", "graft.cc.StarOps$Arcs",
              "graft.cc.ConnectedComponents$ContractScan"]),
    ("observe", ["CollectMetricsExec", "AggregatingAccumulator"]),
    ("projection creation", ["UnsafeProjection$.create", "MutableProjection$.create",
                             "codegen.CodeGenerator", "codegen.Generate", "org.codehaus.janino"]),
    ("row conversion", ["DeserializeToObject", "SerializeFromObject",
                        "BufferedRowIterator.append", "ExpressionEncoder",
                        "SpecificUnsafeProjection", "SpecificSafeProjection",
                        "InterpretedUnsafeProjection", "UnsafeRowWriter"]),
    ("shuffle read", ["ShuffleBlockFetcherIterator", "BlockStoreShuffleReader",
                      "UnsafeRowSerializerInstance$$anon$2"]),
    ("shuffle write", ["ShuffleWriter", "ShuffleExternalSorter", "DiskBlockObjectWriter",
                       "ShuffleWriteProcessor", "UnsafeRowSerializerInstance$$anon$1",
                       "prepareShuffleDependency"]),
    ("sort", ["UnsafeExternalSorter", "UnsafeInMemorySorter", "RadixSort",
              "UnsafeExternalRowSorter", "UnsafeSorterSpill", "execution.SortExec",
              "PrefixComparators"]),
]
NAMES = [name for name, _ in CATEGORIES] + ["other"]
TASK_THREAD = "Executor task launch worker"
THREAD = re.compile(r'^\s*sampledThread = "(.*)"')


def category(frames):
    for frame in frames:
        for name, needles in CATEGORIES:
            if any(n in frame for n in needles):
                return name
    return "other"


def samples(lines):
    """(thread name, frames innermost first) of each ExecutionSample event."""
    thread, frames, in_stack = None, [], False
    for line in lines:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif m := THREAD.match(line):
            thread = m.group(1)
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s != "...":
            frames.append(s)
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="*", help="jfr print output (default: stdin)")
    ap.add_argument("--other", type=int, default=0,
                    help="list the N most frequent innermost frames of `other` samples")
    args = ap.parse_args()
    counts = {"task": collections.Counter(), "driver": collections.Counter()}
    other = collections.Counter()
    streams = [open(f) for f in args.files] or [sys.stdin]
    for stream in streams:
        for thread, frames in samples(stream):
            side = "task" if thread.startswith(TASK_THREAD) else "driver"
            cat = category(frames)
            counts[side][cat] += 1
            if cat == "other" and frames:
                other[frames[0]] += 1
    for side in ("task", "driver"):
        total = sum(counts[side].values())
        print(f"{side}: {total} samples")
        for name in NAMES:
            n = counts[side][name]
            print(f"  {name:<20} {n:>7}  {100.0 * n / total if total else 0.0:5.1f} %")
    for frame, n in other.most_common(args.other):
        print(f"other {n:>7}  {frame}")


if __name__ == "__main__":
    main()
