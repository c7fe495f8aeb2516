#!/usr/bin/env python3
"""Splits a JFR CPU profile into Spark phases and graft call paths.

    python3 tools/jfr_split.py RECORDING.jfr [--threads REGEX] [--last SECONDS]
    python3 tools/jfr_split.py RECORDING.jfr --jit [--last SECONDS]
    python3 tools/jfr_split.py --selftest

Reads the recording's `jdk.ExecutionSample` events through
`jfr print --stack-depth 512 --json --events jdk.ExecutionSample`, keeps the
samples of the threads whose name matches `--threads` (by default the
server's request threads, `grpc-dispatch` and `http-facade`) taken in the
last `--last` seconds of the recording (default: all of it), and prints,
for each bucket, how many of those samples have a frame in it and their
share (a sample counts in every bucket it matches, so these overlap:
explain, for one, plans the query it prints), then the samples whose
innermost bucketed frame is in it (each sample once, so these add up to
at most 100 %).

JFR samples a bounded number of threads per sampling period, so a count is
not CPU time: compare shares within one recording, or the same bucket
across two recordings of the same workload, not absolute counts.

The executor threads do a read's Spark work, the first read after a write
computing and storing the snapshot fold among it; split them with
`--threads 'Executor task'` (local mode names them "Executor task launch
worker for task ..."). The "spark: block store", "spark: SizeEstimator"
and "spark: sort/aggregate" buckets are for them.

With `--jit` it reads the `jdk.Compilation` events instead and prints the
JIT compilers' time, summed over the compilations that started in the last
`--last` seconds: the total, then by compiler (c1, c2) and by top package
(the first four components of the compiled method's package, such as
`org/apache/spark/sql`), largest first. The `profile` settings record only
compilations over 100 ms; add `jdk.Compilation#threshold=0ms` to the
recording options to record them all.

A recording of the benchmark, with `perfbench/run.py` unchanged:

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=512 \\
      -XX:StartFlightRecording=filename=X.jfr,settings=profile,jdk.Compilation#threshold=0ms" \\
      python3 perfbench/run.py --workload server-mixed --seed N --seconds 15 --trace 0
"""
import argparse
import datetime
import json
import re
import subprocess
import sys

# (bucket, regex over "package.Class.method" frame names)
BUCKETS = [
    ("spark: ClosureCleaner", r"^org\.apache\.spark\.util\.(Spark)?ClosureCleaner"),
    ("spark: analysis", r"\.QueryExecution\.\$anonfun\$lazyAnalyzed\$"),
    ("spark: optimizer", r"\.QueryExecution\.\$anonfun\$lazyOptimizedPlan\$"),
    ("spark: physical planning",
     r"\.QueryExecution\.\$anonfun\$lazy(SparkPlan|ExecutedPlan)\$"),
    ("spark: explain", r"\.QueryExecution\.\S*explainString|\.SparkPlanInfo\$?\."),
    ("spark: AQE", r"^org\.apache\.spark\.sql\.execution\.adaptive\."),
    ("spark: codegen",
     r"\.WholeStageCodegenExec\.doCodeGen|\.expressions\.codegen\.CodeGenerator|"
     r"^org\.codehaus\.janino\."),
    ("spark: SparkContext.runJob", r"^org\.apache\.spark\.SparkContext\.runJob"),
    ("spark: block store", r"^org\.apache\.spark\.storage\.BlockManager\.doPutIterator"),
    ("spark: SizeEstimator", r"^org\.apache\.spark\.util\.SizeEstimator"),
    ("spark: sort/aggregate",
     r"^org\.apache\.spark\.sql\.execution\.(SortExec|aggregate\.SortAggregateExec)[.$]|"
     r"\.UnsafeExternal(Row)?Sorter\."),
    ("graft: snapshot fold",
     r"^graft\.server\.HttpFacade\.(\S*\$)?(snapshot|fold)(\$|$)"),
    ("graft: SQL binding", r"^org\.apache\.spark\.sql\.graft\.SqlBinder\$?\."),
    ("graft: measurement view",
     r"^graft\.server\.HttpFacade\.(\S*\$)?measurementView(\$|$)"),
    ("graft: SQL plan", r"^graft\.server\.HttpFacade\.(\S*\$)?planSql(\$|$)"),
    ("graft: InfluxQL plan",
     r"^graft\.server\.HttpFacade\.(\S*\$)?planStatement(\$|$)"),
    ("graft: storage RPC plan",
     r"^graft\.server\.HttpFacade\.(\S*\$)?plan(ReadFilter|ReadGroup|"
     r"ReadWindowAggregate|TagValues|TagKeys|MeasurementNames)(\$|$)"),
    ("graft: result rows", r"^graft\.core\.ResultRows"),
    ("graft: line-protocol write",
     r"^graft\.server\.HttpFacade\.(\S*\$)?writeLines(\$|$)"),
]
COMPILED = [(name, re.compile(rx)) for name, rx in BUCKETS]
DEFAULT_THREADS = r"^(grpc-dispatch|http-facade)"


def frame_name(frame):
    """`package.Class.method` of one JSON stack frame."""
    m = frame.get("method") or {}
    cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{m.get('name') or '?'}"


def buckets_of(frames):
    """(names of the buckets any of `frames` falls in, the bucket of the
    innermost frame that falls in one, or None). Frames run innermost
    first, as JFR lists them."""
    names = frozenset(name for name, rx in COMPILED
                      if any(rx.search(f) for f in frames))
    inner = next((name for f in frames for name, rx in COMPILED
                  if name in names and rx.search(f)), None)
    return names, inner


def parse_time(text):
    """Seconds since the epoch of a JFR JSON timestamp (ns digits cut to µs)."""
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(\.\d+)?(Z|[+-]\d\d:\d\d)$", text)
    base, frac, zone = m.group(1), ((m.group(2) or ".") + "000000")[:7], m.group(3)
    zone = "+00:00" if zone == "Z" else zone
    return datetime.datetime.fromisoformat(base + frac + zone).timestamp()


def events(stream, chunk=1 << 20):
    """The objects of the recording's "events" array, parsed one at a time
    from a text stream, so a large print never has to fit in memory."""
    dec = json.JSONDecoder()
    buf, pos, eof = "", -1, False
    while pos < 0:  # find the array
        more = stream.read(chunk)
        if not more:
            return
        buf += more
        m = re.search(r'"events"\s*:\s*\[', buf)
        if m:
            buf, pos = buf[m.end():], 0
    while True:
        while pos < len(buf) and buf[pos] in " \t\r\n,":
            pos += 1
        if pos < len(buf) and buf[pos] == "]":
            return
        try:
            obj, end = dec.raw_decode(buf, pos)
        except ValueError:
            if eof:
                raise
            more = stream.read(chunk)
            eof = not more
            buf, pos = buf[pos:] + more, 0
            continue
        yield obj
        pos = end


def samples(stream, threads):
    """(time, (buckets, innermost bucket)) of each execution sample of a
    matching thread."""
    rx = re.compile(threads)
    for e in events(stream):
        v = e.get("values") or {}
        t = v.get("sampledThread") or {}
        name = t.get("javaName") or t.get("osName") or ""
        if not rx.search(name):
            continue
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames") or []]
        yield parse_time(v["startTime"]), buckets_of(frames)


def split(sampled, last=None):
    """(sample count, {bucket: [samples in it, samples innermost in it]})
    over the samples in the last `last` seconds before the newest one."""
    sampled = list(sampled)
    if last is not None and sampled:
        newest = max(t for t, _ in sampled)
        sampled = [(t, b) for t, b in sampled if t >= newest - last]
    counts = {name: [0, 0] for name, _ in BUCKETS}
    for _, (names, inner) in sampled:
        for b in names:
            counts[b][0] += 1
        if inner is not None:
            counts[inner][1] += 1
    return len(sampled), counts


def parse_duration(text):
    """Seconds of a JFR JSON duration (ISO 8601: "PT0.0123S", "PT1M2.5S")."""
    m = re.fullmatch(r"(-)?PT(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?", text)
    secs = int(m.group(2) or 0) * 3600 + int(m.group(3) or 0) * 60 + float(m.group(4) or 0)
    return -secs if m.group(1) else secs


def top_package(cls, depth=4):
    """The first `depth` components of the package of class `cls`
    ("org/apache/spark/sql/Dataset" -> "org/apache/spark/sql")."""
    parts = cls.replace(".", "/").split("/")[:-1]
    return "/".join(parts[:depth]) or "(default package)"


def compilations(stream):
    """(start time, seconds, compiler, top package) of each compilation."""
    for e in events(stream):
        v = e.get("values") or {}
        cls = ((v.get("method") or {}).get("type") or {}).get("name") or "?"
        yield (parse_time(v["startTime"]), parse_duration(v["duration"]),
               v.get("compiler") or "?", top_package(cls))


def jit_split(compiled, last=None):
    """(total seconds, {compiler: [count, seconds]}, {package: [count,
    seconds]}) over the compilations that started in the last `last`
    seconds before the newest start."""
    compiled = list(compiled)
    if last is not None and compiled:
        newest = max(c[0] for c in compiled)
        compiled = [c for c in compiled if c[0] >= newest - last]
    by_compiler, by_package = {}, {}
    for _, secs, compiler, package in compiled:
        for key, acc in ((compiler, by_compiler), (package, by_package)):
            acc.setdefault(key, [0, 0.0])
            acc[key][0] += 1
            acc[key][1] += secs
    return sum(c[1] for c in compiled), by_compiler, by_package


def jit_report(total, by_compiler, by_package, out, top=15):
    share = lambda secs: 100.0 * secs / total if total else 0.0
    out.write(f"{'JIT compilation':40s} {'count':>7s} {'s':>9s} {'share':>8s}\n")
    out.write(f"{'total':40s} {sum(c for c, _ in by_compiler.values()):7d} "
              f"{total:9.3f} {100.0 if total else 0.0:6.1f} %\n")
    for title, acc, n in (("compiler", by_compiler, None), ("package", by_package, top)):
        ranked = sorted(acc.items(), key=lambda kv: (-kv[1][1], kv[0]))[:n]
        for name, (count, secs) in ranked:
            out.write(f"{title + ' ' + name:40s} {count:7d} {secs:9.3f} {share(secs):6.1f} %\n")


def report(n, counts, out):
    pct = lambda c: 100.0 * c / n if n else 0.0
    out.write(f"{f'{n} samples':32s} {'in':>7s} {'share':>8s} {'inner':>7s} {'share':>8s}\n")
    for name, (c, inner) in sorted(counts.items(), key=lambda kv: (-kv[1][0], kv[0])):
        out.write(f"{name:32s} {c:7d} {pct(c):6.1f} % {inner:7d} {pct(inner):6.1f} %\n")


def selftest():
    import io

    def frame(cls, method):
        return {"method": {"type": {"name": cls.replace(".", "/")}, "name": method}}

    def event(ts, thread, stack):
        return {"type": "jdk.ExecutionSample", "values": {
            "startTime": ts, "sampledThread": {"javaName": thread},
            "stackTrace": {"truncated": False,
                           "frames": [frame(c, m) for c, m in stack]}}}

    clean = [("org.apache.spark.util.ClosureCleaner$", "clean"),
             ("org.apache.spark.SparkContext", "runJob"),
             ("graft.core.ResultRows$", "stream")]
    fold = [("org.apache.spark.sql.execution.QueryExecution",
             "$anonfun$lazyOptimizedPlan$1"),
            ("graft.server.HttpFacade", "graft$server$HttpFacade$$fold"),
            ("graft.server.HttpFacade", "snapshot")]
    # an executor storing a fold: sizing the rows under the block store,
    # then sorting them for the aggregate
    size = [("org.apache.spark.util.SizeEstimator$", "visitSingleObject"),
            ("org.apache.spark.storage.memory.MemoryStore", "putIterator"),
            ("org.apache.spark.storage.BlockManager", "doPutIterator")]
    sort = [("org.apache.spark.util.collection.unsafe.sort.UnsafeExternalSorter",
             "insertRecord"),
            ("org.apache.spark.sql.execution.UnsafeExternalRowSorter", "sort"),
            ("org.apache.spark.sql.execution.SortExec", "$anonfun$doExecute$1"),
            ("org.apache.spark.sql.execution.aggregate.SortAggregateExec",
             "$anonfun$doExecute$1"),
            ("org.apache.spark.storage.BlockManager", "doPutIterator")]
    worker = "Executor task launch worker for task 0.0 in stage 1.0 (TID 1)"
    recording = {"recording": {"events": [
        event("2026-01-01T00:00:00.000000001Z", "grpc-dispatch", clean),
        event("2026-01-01T00:00:08.5Z", "http-facade", fold),
        event("2026-01-01T00:00:09Z", "grpc-dispatch", clean),
        event("2026-01-01T00:00:10.123456789+00:00", "grpc-dispatch", fold),
        event("2026-01-01T00:00:10Z", "executor task launch worker", clean),
        event("2026-01-01T00:00:10Z", worker, size),
        event("2026-01-01T00:00:10Z", worker, sort),
    ]}}
    text = json.dumps(recording, indent=2)
    # a tiny read chunk makes every event span several reads
    got = list(events(io.StringIO(text), chunk=7))
    assert len(got) == 7 and got[3]["values"]["startTime"].startswith("2026")
    n, counts = split(samples(io.StringIO(text), DEFAULT_THREADS))
    assert n == 4, n
    # in: every bucket on the stack; inner: the innermost one only
    assert counts["spark: ClosureCleaner"] == [2, 2]
    assert counts["spark: SparkContext.runJob"] == [2, 0]
    assert counts["graft: result rows"] == [2, 0]
    assert counts["spark: optimizer"] == [2, 2]
    assert counts["graft: snapshot fold"] == [2, 0]
    assert counts["spark: analysis"] == [0, 0]
    assert sum(inner for _, inner in counts.values()) <= n
    # the last 2 s before the newest sample (10.12 s): 8.5, 9 and 10.12 s
    n, counts = split(samples(io.StringIO(text), DEFAULT_THREADS), last=2.0)
    assert n == 3 and counts["spark: ClosureCleaner"] == [1, 1], (n, counts)
    n, _ = split(samples(io.StringIO(text), "executor"))
    assert n == 1
    n, counts = split(samples(io.StringIO(text), "Executor task"))
    assert n == 2, n
    assert counts["spark: block store"] == [2, 0]
    assert counts["spark: SizeEstimator"] == [1, 1]
    assert counts["spark: sort/aggregate"] == [1, 1]
    assert counts["spark: ClosureCleaner"] == [0, 0]
    assert buckets_of(["org.apache.spark.sql.execution.SortExecHelper.x"]) == \
        (frozenset(), None)
    assert parse_time("2026-01-01T00:00:01.5Z") - parse_time("2026-01-01T00:00:00Z") == 1.5
    out = io.StringIO()
    report(4, {"a": [1, 0], "b": [3, 2]}, out)
    lines = out.getvalue().splitlines()
    assert lines[0].split() == ["4", "samples", "in", "share", "inner", "share"]
    assert lines[1].split() == ["b", "3", "75.0", "%", "2", "50.0", "%"]
    assert lines[2].split() == ["a", "1", "25.0", "%", "0", "0.0", "%"]
    assert len({len(l) for l in lines}) == 1  # aligned columns
    assert buckets_of(["graft.server.HttpFacade.snapshotsOf"]) == (frozenset(), None)
    assert buckets_of(["org.apache.spark.sql.graft.SqlBinder$.bind",
                       "graft.server.HttpFacade.planSql"]) == \
        ({"graft: SQL binding", "graft: SQL plan"}, "graft: SQL binding")
    assert buckets_of(["graft.server.HttpFacade.planStatement"]) == \
        ({"graft: InfluxQL plan"}, "graft: InfluxQL plan")
    # --jit: compile time by compiler and top package, over the window
    def compilation(ts, duration, compiler, cls):
        return {"type": "jdk.Compilation", "values": {
            "startTime": ts, "duration": duration, "compiler": compiler,
            "method": {"type": {"name": cls}, "name": "m"}}}
    jit = json.dumps({"recording": {"events": [
        compilation("2026-01-01T00:00:00Z", "PT1M0.5S", "c2", "scala/Predef$"),
        compilation("2026-01-01T00:00:09Z", "PT0.25S", "c2",
                    "org/apache/spark/sql/catalyst/trees/TreeNode"),
        compilation("2026-01-01T00:00:09.5Z", "PT0.5S", "c1", "org/apache/spark/sql/Dataset"),
        compilation("2026-01-01T00:00:10Z", "PT0.125S", "c2", "graft/server/HttpFacade"),
        compilation("2026-01-01T00:00:10Z", "PT0S", "c1", "Toplevel"),
    ]}}, indent=2)
    assert parse_duration("PT1H2M3.5S") == 3723.5 and parse_duration("PT0S") == 0.0
    total, by_compiler, by_package = jit_split(compilations(io.StringIO(jit)))
    assert total == 61.375 and by_compiler == {"c2": [3, 60.875], "c1": [2, 0.5]}
    # the last 2 s before the newest start (10 s): 9, 9.5 and 10 s
    total, by_compiler, by_package = jit_split(compilations(io.StringIO(jit)), last=2.0)
    assert total == 0.875, total
    assert by_compiler == {"c2": [2, 0.375], "c1": [2, 0.5]}, by_compiler
    assert by_package == {"org/apache/spark/sql": [2, 0.75], "graft/server": [1, 0.125],
                          "(default package)": [1, 0.0]}, by_package
    out = io.StringIO()
    jit_report(total, by_compiler, by_package, out, top=2)
    lines = out.getvalue().splitlines()
    assert lines[1].split() == ["total", "4", "0.875", "100.0", "%"], lines
    assert lines[2].split() == ["compiler", "c1", "2", "0.500", "57.1", "%"], lines
    assert lines[4].split() == ["package", "org/apache/spark/sql", "2", "0.750", "85.7", "%"]
    assert len(lines) == 6  # `top` packages only
    assert len({len(l) for l in lines}) == 1  # aligned columns
    print("jfr_split selftest ok")


def main():
    if "--selftest" in sys.argv[1:]:
        selftest()
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--threads", default=DEFAULT_THREADS,
                    help=f"thread-name regex (default {DEFAULT_THREADS!r})")
    ap.add_argument("--last", type=float, help="only the last SECONDS of samples")
    ap.add_argument("--jit", action="store_true",
                    help="sum JIT compilation time by compiler and top package")
    a = ap.parse_args()
    event = "jdk.Compilation" if a.jit else "jdk.ExecutionSample"
    p = subprocess.Popen(["jfr", "print", "--stack-depth", "512", "--json",
                          "--events", event, a.recording],
                         stdout=subprocess.PIPE, text=True)
    if a.jit:
        result = jit_split(compilations(p.stdout), a.last)
    else:
        n, counts = split(samples(p.stdout, a.threads), a.last)
    if p.wait() != 0:
        sys.exit(f"jfr print exited {p.returncode}")
    if a.jit:
        jit_report(*result, sys.stdout)
    else:
        report(n, counts, sys.stdout)


if __name__ == "__main__":
    main()
