#!/usr/bin/env python3
"""Where a perfbench run's measured window writes its bytes, from JFR.

Record a run with every `jdk.FileWrite` event (tools/filewrite.jfc sets
the threshold to 0 ms and keeps stack traces), keep its stdout, then
split the writes inside the measured window by kind:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=$PWD/tools/filewrite.jfc" \
      python3 perfbench/run.py --workload curation --seed 1 --trace 0 > /tmp/run.out
    python3 tools/jfr_writes.py /tmp/run.jfr /tmp/run.out

The window runs from the end of the warm-up phase to the end of the
measured phase (`phase_end_ms` in the run's context line, counted from
the JVM start plus `jvm_boot_ms`), the same window `write_amp` reads.
"""
import collections, datetime, json, subprocess, sys


def kind(values):
    path = values.get("path") or ""
    frames = [f["method"]["type"]["name"] + "." + f["method"]["name"]
              for f in (values.get("stackTrace") or {}).get("frames", [])]
    if any("BypassMergeSortShuffleWriter.writePartitionedData" in f for f in frames):
        return "bypass-merge copy into .data"
    if ".index" in path or ".checksum" in path:
        return ".index/.checksum"
    if "temp_shuffle_" in path or path.endswith(".data"):
        return "shuffle data"
    if "/state/" in path:
        return "state-store deltas and snapshots"
    if "/chk/" in path:
        return "checkpoint logs"
    return "zone output and other"


def main(rec, out):
    ctx = next(json.loads(l)["context"] for l in open(out) if l.startswith('{"context"'))
    events = json.loads(subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "64",
         "--events", "jdk.FileWrite,jdk.JVMInformation", rec],
        capture_output=True, text=True, check=True).stdout)["recording"]["events"]
    ts = lambda s: datetime.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()
    start = next(e for e in events if e["type"] == "jdk.JVMInformation")["values"]["jvmStartTime"]
    t0 = ts(start) + ctx["jvm_boot_ms"] / 1000
    lo, hi = (t0 + ctx["phase_end_ms"][p] / 1000 for p in ("warmup", "measured"))
    written, writes = collections.Counter(), collections.Counter()
    for e in events:
        if e["type"] == "jdk.FileWrite" and lo <= ts(e["values"]["startTime"]) <= hi:
            k = kind(e["values"])
            written[k] += e["values"]["bytesWritten"]
            writes[k] += 1
    print(f"{len(ctx['op_ms'])} measured ops")
    for k, b in written.most_common():
        print(f"{b / 1e6:8.3f} MB {writes[k]:6d} writes  {k}")
    print(f"{sum(written.values()) / 1e6:8.3f} MB total")


if __name__ == "__main__":
    main(*sys.argv[1:3])
