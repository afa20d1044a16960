#!/usr/bin/env python3
"""Where a benchmark cycle's CPU goes, from a JFR recording, with no code change.

    python3 tools/jfr_hotspots.py REC.jfr [--stack-depth 2048] [--top 8]

Streams `jfr print --stack-depth N --events jdk.ExecutionSample REC.jfr`
and prints three breakdowns of the samples:

  1. the timed window: from the first to the last sample of the `main`
     thread with a `graftbench.Main$.cycles` frame (the benchmark's timed
     cycles); every later breakdown counts only samples inside it;
  2. samples per thread group (thread names with their numbers removed);
  3. samples per cost bucket (Janino, footer reads, closure cleaning, task
     serde, writes, shuffle, AQE, analysis, task compute, other), each
     split by its innermost `graft.` frame.

A sample's bucket is decided by its innermost frame that matches a
bucket's pattern (so Janino inside AQE counts as Janino); a sample with
no matching frame is `other`. Record with, e.g.,

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=2048 \
      -XX:StartFlightRecording=filename=REC.jfr,settings=profile,dumponexit=true" \
      python3 perfbench/run.py --workload analyst_index --seed 1101 --seconds 1 --trace 0

after one plain run has built the benchmark, so sbt is not recorded too.
"""
import argparse
import collections
import re
import subprocess
import sys

CYCLES = "graftbench.Main$.cycles"
# (bucket, frame prefixes); a frame matches when it starts with a prefix
BUCKETS = [
    ("janino", ("org.codehaus.janino.", "org.codehaus.commons.compiler.")),
    ("footer reads", ("org.apache.parquet.hadoop.ParquetFileReader.readFooter",
                      "org.apache.parquet.hadoop.ParquetFileReader.<init>",
                      "org.apache.parquet.hadoop.ParquetFileReader.open",
                      "org.apache.parquet.HadoopReadOptions",
                      "org.apache.parquet.format.converter.ParquetMetadataConverter.readParquetMetadata")),
    ("closure cleaning", ("org.apache.spark.util.ClosureCleaner",
                          "org.apache.spark.util.SparkClosureCleaner")),
    ("task serde", ("org.apache.spark.serializer.", "org.apache.spark.scheduler.Task.serialize",
                    "org.apache.spark.scheduler.ResultTask.<init>",
                    "org.apache.spark.scheduler.ShuffleMapTask.<init>",
                    "org.apache.spark.broadcast.TorrentBroadcast")),
    ("writes", ("org.apache.spark.sql.execution.datasources.FileFormatWriter",
                "org.apache.spark.sql.execution.datasources.FileFormatDataWriter",
                "org.apache.parquet.hadoop.ParquetOutputFormat",
                "org.apache.parquet.hadoop.InternalParquetRecordWriter")),
    ("shuffle", ("org.apache.spark.shuffle.", "org.apache.spark.storage.ShuffleBlockFetcherIterator",
                 "org.apache.spark.sql.execution.exchange.")),
    ("AQE", ("org.apache.spark.sql.execution.adaptive.",)),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.", "org.apache.spark.sql.catalyst.optimizer.",
                  "org.apache.spark.sql.catalyst.rules.RuleExecutor")),
    # a task's own row work (whole-stage generated code), so that the
    # shuffle and write buckets hold only their machinery
    ("task compute", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
]
TIME = re.compile(r"startTime = (\d+):(\d+):([\d.]+)")
THREAD = re.compile(r'sampledThread = "(.*)" \(javaThreadId')


def samples(path, depth):
    """Yields (seconds of day, thread name, frames innermost first)."""
    cmd = ["jfr", "print", "--stack-depth", str(depth), "--events", "jdk.ExecutionSample", path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    t, thread, frames, in_stack = None, None, [], False
    for line in proc.stdout:
        s = line.strip()
        if in_stack:
            if s == "]":
                in_stack = False
            elif s and s != "...":
                frames.append(s)
        elif s.startswith("jdk.ExecutionSample"):
            t, thread, frames = None, None, []
        elif s.startswith("startTime"):
            m = TIME.search(s)
            t = int(m.group(1)) * 3600 + int(m.group(2)) * 60 + float(m.group(3)) if m else None
        elif s.startswith("sampledThread"):
            m = THREAD.search(s)
            thread = m.group(1) if m else "?"
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif s == "}" and t is not None:
            yield t, thread, frames
            t = None
    if proc.wait() != 0:
        sys.exit(f"jfr_hotspots: `{' '.join(cmd)}` failed")


def group(thread):
    """A thread's group: its name up to ' for ' (task threads), numbers removed."""
    name = thread.split(" for ")[0]
    return re.sub(r"[-#\s]*\d+", "", name).strip() or thread


def bucket(frames):
    for f in frames:
        for name, prefixes in BUCKETS:
            if f.startswith(prefixes):
                return name
    return "other"


def graft_frame(frames):
    for f in frames:
        if f.startswith("graft."):
            return f.split("(")[0]
    return "(no graft frame)"


def pct(n, total):
    return f"{n:7d} {100.0 * n / max(total, 1):5.1f}%"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--stack-depth", type=int, default=2048)
    ap.add_argument("--top", type=int, default=8, help="graft frames shown per bucket")
    args = ap.parse_args()
    every = list(samples(args.recording, args.stack_depth))
    timed = [t for t, th, fr in every if th == "main" and any(f.startswith(CYCLES) for f in fr)]
    if not timed:
        sys.exit(f"jfr_hotspots: no main-thread sample with a {CYCLES} frame")
    lo, hi = min(timed), max(timed)
    window = [(th, fr) for t, th, fr in every if lo <= t <= hi]
    total = len(window)
    print(f"timed window: {hi - lo:.2f} s, {total} samples of {len(every)} "
          f"({len(timed)} on main in {CYCLES})")
    print("\nsamples per thread group:")
    for g, n in collections.Counter(group(th) for th, _ in window).most_common():
        print(f"  {pct(n, total)}  {g}")
    print("\nsamples per cost bucket, by innermost graft frame:")
    by = collections.defaultdict(collections.Counter)
    for _, fr in window:
        by[bucket(fr)][graft_frame(fr)] += 1
    for name, frames in sorted(by.items(), key=lambda kv: -sum(kv[1].values())):
        print(f"  {pct(sum(frames.values()), total)}  {name}")
        for f, n in frames.most_common(args.top):
            print(f"      {pct(n, total)}  {f}")


if __name__ == "__main__":
    main()
