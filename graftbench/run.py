#!/usr/bin/env python3
"""graftbench: times graft's query workloads end to end on `local[N]`.

    python3 graftbench/run.py --workload llm_dedup --seed 1 --seconds 34 --trace 0

Run from the repository root. The first run compiles `src/main/scala` and
`graftbench/Harness.scala` with the Scala compiler that ships in Spark's
jars; later runs reuse the classes while the sources are unchanged. Each run
is one plain `java -cp` JVM (see Harness.scala): setup, a cold pass, warm
passes until `--seconds` of passes are used, then an untimed output check
against `expected.json`. The last stdout line is the result JSON; see
NOTES.md for what every metric means.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import report

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HEAP = "4g"
QUERY_DEADLINE_S = 60
MIN_WARM = 3
RUN_LIMIT_S = 170  # the whole run, build excluded, must end before this

# Each workload is a subset of the family it is named after, listed in the
# order of its cold pass (warm passes shuffle it by seed), sized so that a
# run (12-17 s of setup, the timed passes and the output check) takes about
# 55 s on 4 cores; NOTES.md lists what was left out. `cold_s` and `warm_s`
# are nominal pass times on a quiet 4-core host: they turn `--seconds` into
# a fixed number of warm passes, so every run of a workload measures the same
# passes however fast the host is that day (warm passes keep getting faster
# for several passes, so a time-bounded count would move `warm_s`).
WORKLOADS = {
    # md5 MinHash signatures (native-kernel task CPU), built once per
    # session and reused by the other signature queries through the cache
    "llm_dedup": {
        "queries": ["minhash_pairs", "blocking_quality", "fellegi_sunter_weights",
                    "dedup_exact_docs"],
        "cold_s": 19.0, "warm_s": 2.8,
    },
    # short relational and events queries: driver construction and planning,
    # scans, a join, pivot, a window, a streaming operator, a pin never reused
    "pandas_analytics": {
        "queries": ["q3_shipping_priority", "pivot_status", "sessions_user", "topk_stream",
                    "mad_outliers"],
        "cold_s": 12.0, "warm_s": 4.0,
    },
}


def warm_passes(workload, seconds):
    """How many warm passes fill `seconds` after the cold pass, nominally."""
    w = WORKLOADS[workload]
    return max(MIN_WARM, int((seconds - w["cold_s"]) / w["warm_s"]))


# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def from_repo(path, pattern, what):
    """A setting the repository declares in one of its own files."""
    m = re.search(pattern, (ROOT / path).read_text(), re.M) if (ROOT / path).is_file() else None
    if m is None:
        fail(f"cannot find {what} in {path}; run from a checkout of the repository")
    return Path(m.group(1))


def data_dir():
    """The read-only sf0.1 tables, as TESTDATA.md lists them."""
    return from_repo("TESTDATA.md", r"^\|\s*0\.1\s*\|\s*`([^`]+)`", "the sf0.1 directory")


def spark_jars():
    """The Spark jars graft compiles and runs against, as build.sbt names them."""
    return from_repo("build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "the Spark jars directory")


def work_dir():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "graftbench"


def build(jars):
    """Compile graft and the harness into a directory keyed by their source
    hash; return the class directory."""
    main_src = ROOT / "src" / "main" / "scala"
    if not main_src.is_dir():
        fail(f"no graft sources at {main_src}; run from a checkout of the repository")
    if not jars.is_dir():
        fail(f"no Spark jars at {jars}")
    sources = sorted(main_src.rglob("*.scala")) + [BENCH / "Harness.scala"]
    digest = hashlib.sha256()
    for s in sources:
        digest.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    classes = work_dir() / f"classes-{digest.hexdigest()[:16]}"
    if classes.is_dir():
        return classes
    tmp = classes.with_name(classes.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-classpath", cp, "-d", str(tmp)] + [str(s) for s in sources],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("compile failed")
    tmp.rename(classes)
    print(f"graftbench: compiled {len(sources)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def launch(classes, jars, data, queries, warm, args, out, spans, tmp, deadline):
    """Run one harness JVM; return its record, or None if it failed."""
    tmp.mkdir(parents=True, exist_ok=True)
    launch_ms = int(time.time() * 1000)
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}:{jars}/*", "graftbench.Harness",
           "--launch-ms", str(launch_ms), "--data", str(data), "--queries", ",".join(queries),
           "--seed", str(args.seed), "--warm-passes", str(warm), "--trace", str(args.trace),
           "--out", str(out), "--spans", str(spans), "--deadline", str(QUERY_DEADLINE_S),
           "--cpus", str(len(os.sched_getaffinity(0)))]
    log = out.with_suffix(".log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=err, cwd=tmp)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print(f"graftbench: harness killed at the run limit; log in {log}", file=sys.stderr)
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-3000:])
        print(f"graftbench: harness exited {proc.returncode}; log in {log}", file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM: SystemExit unwinds through launch()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars, data = spark_jars(), data_dir()
    classes = build(jars)
    queries = WORKLOADS[args.workload]["queries"]
    expected = json.loads((BENCH / "expected.json").read_text())["queries"]
    if not data.is_dir():
        fail(f"no input tables at {data}")

    runs = work_dir() / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out, spans, tmp = runs / f"{tag}.json", runs / f"{tag}.spans.jsonl", runs / f"{tag}.tmp"
    for p in (out, spans):
        p.unlink(missing_ok=True)
    try:
        record = launch(classes, jars, data, queries, warm_passes(args.workload, args.seconds), args,
                        out, spans, tmp, time.time() + RUN_LIMIT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if record is None:
        fail("the run did not complete")

    print(json.dumps({"workload": args.workload, "cpus": record["cpus"], "heap_mb": record["heap_mb"],
                      "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                      "data": str(data), "queries": record["queries"],
                      "passes": [f"{p['kind']}{p['index']}{'T' if p['traced'] else ''}"
                                 f"={p['wall_s']:.2f}s" for p in record["passes"]],
                      "record": str(out)}))
    attempted, failed, reasons = report.accounting(record, queries, expected)
    if record.get("warmup_status") != "ok":
        reasons["vc_returnflag (warm-up)"] = record.get("warmup_status")
    for name, why in sorted(reasons.items()):
        print(f"graftbench: FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps({"ops": {"value": attempted, "unit": "count"},
                      "ops_failed": {"value": failed, "unit": "count"}}))
    if args.trace:
        with open(spans) as f:
            span_recs = [json.loads(line) for line in f]
        values, units = report.per_layer(record, span_recs), report.per_layer_units()
        print(json.dumps({"spans": str(spans), "span_count": len(span_recs)}))
    else:
        values, units = report.end_to_end(record), report.END_TO_END
    print(json.dumps(report.result_line(not reasons, attempted, failed, values, units)))


if __name__ == "__main__":
    main()
