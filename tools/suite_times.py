#!/usr/bin/env python3
"""Per-suite test times from sbt's JUnit reports, as one JSON line.

    python3 tools/suite_times.py [REPORT_DIR]   # default target/test-reports

Reads every TEST-*.xml and prints
  {"suites": {name: {"s", "tests", "failures", "estimated"}}, "slowest": [...],
   "tests": N, "failures": N, "total_s": S, "span_s": S}
Failures count both failures and errors. ScalaCheck property suites report no
time (sbt writes a negative one); their seconds are estimated from the gap
between consecutive report timestamps (suites run one after another in the
forked test JVM, and each report is stamped when its suite ends), and marked
"estimated" (null for the first suite, which has no predecessor). `total_s`
sums the known per-suite seconds; `span_s` is the wall time from the end of the
first suite to the end of the last one.
"""
import datetime
import glob
import json
import os
import sys
import xml.etree.ElementTree as ET


def main(argv):
    report_dir = argv[0] if argv else "target/test-reports"
    rows = []
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        s = ET.parse(path).getroot()
        rows.append({
            "name": s.get("name"),
            "time": float(s.get("time") or -1),
            "end": datetime.datetime.fromisoformat(s.get("timestamp")),
            "tests": int(s.get("tests") or 0),
            "failures": int(s.get("failures") or 0) + int(s.get("errors") or 0),
        })
    if not rows:
        sys.exit(f"no TEST-*.xml reports under {report_dir}")
    rows.sort(key=lambda r: r["end"])
    suites, prev_end = {}, None
    for r in rows:
        estimated = r["time"] < 0
        secs = r["time"]
        if estimated:
            secs = (r["end"] - prev_end).total_seconds() if prev_end else None
        suites[r["name"]] = {"s": None if secs is None else round(secs, 3),
                             "tests": r["tests"],
                             "failures": r["failures"], "estimated": estimated}
        prev_end = r["end"]
    known = {n: v["s"] for n, v in suites.items() if v["s"] is not None}
    slowest = sorted(known, key=lambda n: -known[n])[:5]
    print(json.dumps({
        "suites": suites,
        "slowest": [[n, known[n]] for n in slowest],
        "tests": sum(r["tests"] for r in rows),
        "failures": sum(r["failures"] for r in rows),
        "total_s": round(sum(known.values()), 3),
        "span_s": (rows[-1]["end"] - rows[0]["end"]).total_seconds(),
    }, sort_keys=True))


if __name__ == "__main__":
    main(sys.argv[1:])
