#!/usr/bin/env python3
"""Breaks a JFR recording of a perfbench elt_m33 run down by Derby writer cost.

  python3 plans/derby_sink/jfr_breakdown.py RECORDING.jfr

Reads `jfr print` output (JDK 17) of jdk.ExecutionSample and
jdk.JavaMonitorWait. A writer sample is one whose stack holds Spark's
JdbcUtils.savePartition (an export mapper). Prints the share of writer
samples under each cost below, and the writers' summed monitor-wait time
in Derby's page latch (BasePage.setExclusive) and lock manager
(ActiveLock.waitForGrant). Record with the monitor-wait threshold at 0:
  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=F.jfr,settings=profile,\
jdk.JavaMonitorWait#threshold=0ms -XX:FlightRecorderOptions:stackdepth=128"
"""
import re
import subprocess
import sys

COSTS = [
    ("commit: release all locks (Xact.releaseAllLocks)", "Xact.releaseAllLocks"),
    ("  of which LockSpace.unlockGroup", "LockSpace.unlockGroup"),
    ("row lock for write (RowLocking3.lockRecordForWrite)", "RowLocking3.lockRecordForWrite"),
    ("table lock (lockContainer)", "lockContainer"),
    ("page latch (BasePage.setExclusive)", "BasePage.setExclusive"),
    ("heap insert (HeapController.insert)", "HeapController.insert"),
    ("log write (FileLogger / LogToFile)", "LogToFile."),
    ("row conversion (JdbcUtils setter)", "JdbcUtils$.$anonfun$makeSetter"),
]


def events(path, kind, depth):
    """Yields (event text, duration in seconds), streaming `jfr print`."""
    proc = subprocess.Popen(["jfr", "print", "--events", kind, "--stack-depth", str(depth), path],
                            stdout=subprocess.PIPE, text=True)
    block = None
    for line in proc.stdout:
        if line.startswith(kind + " {"):
            block = []
        elif line.startswith("}") and block is not None:
            text = "".join(block)
            dur = re.search(r"duration = ([\d.]+) (ms|s|us|ns)", text)
            secs = float(dur.group(1)) * {"s": 1, "ms": 1e-3, "us": 1e-6, "ns": 1e-9}[dur.group(2)] if dur else 0.0
            yield text, secs
            block = None
        elif block is not None:
            block.append(line)
    if proc.wait():
        raise RuntimeError(f"jfr print exited {proc.returncode}")


def main():
    path = sys.argv[1]
    writer = total = 0
    hits = {k: 0 for _, k in COSTS}
    for block, _ in events(path, "jdk.ExecutionSample", 128):
        total += 1
        if "JdbcUtils$.savePartition" not in block:
            continue
        writer += 1
        for _, k in COSTS:
            if k in block:
                hits[k] += 1
    print(f"execution samples: {total}, in export writers: {writer}")
    for label, k in COSTS:
        print(f"  {label:55s} {hits[k]:6d}  {100.0 * hits[k] / max(writer, 1):5.1f} %")
    waits = {"page latch": "BasePage.setExclusive", "lock": "ActiveLock.waitForGrant"}
    count = {label: 0 for label in waits}
    secs = {label: 0.0 for label in waits}
    for block, dur in events(path, "jdk.JavaMonitorWait", 128):
        if "JdbcUtils$.savePartition" not in block:
            continue
        for label, k in waits.items():
            if k in block:
                count[label] += 1
                secs[label] += dur
    for label, k in waits.items():
        print(f"writer {label} waits (JavaMonitorWait in {k}): {count[label]} events, {secs[label]:.2f} s")


if __name__ == "__main__":
    main()
