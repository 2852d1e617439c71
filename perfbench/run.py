#!/usr/bin/env python3
"""graft's end-to-end benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed under `.bench_work/`, builds
graft from source (perfbench/build.py), runs the workload as a closed loop
for S seconds in one JVM on Spark local[nproc], checks every output against
an implementation that does not use graft, and prints each metric by name
with its unit. The last line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 they are its
per-layer ones, taken from a run that also writes every span to
`.bench_work/trace/<workload>-<seed>.jsonl`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
HEAP = "2g"
SETUPS = 15

# BENCHMARK.json says why each workload exists. ref_index_short is not in
# it (see README.md); the position in this tuple salts the seed.
WORKLOADS = ("ref_index_long", "ref_index_short", "curated_ingest",
             "tpch_batch")

# The spans each workload runs. A per-layer metric of one of these spans
# must be in the trace; one of a span the workload does not run is 0.
# Metrics of no span (total.*, trace.*, exact.*, storage.*) must be there
# on every workload.
_REF_SPANS = ("sources.TextCorpus.fromManifest", "operators.InvertedIndex",
              "sources.LetterSink.write")
SPANS = {
    "ref_index_long": _REF_SPANS,
    "ref_index_short": _REF_SPANS,
    "curated_ingest": ("streaming.EventStreams.curatedIngest",
                       "streaming.EventStreams.curatedSnapshot",
                       "streaming.store"),
    "tpch_batch": ("operators.TpcH", "operators.Relational"),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def generate(workload, seed, work):
    """Writes the workload's inputs; returns their size in bytes."""
    rng = np.random.default_rng([seed % 2**63, WORKLOADS.index(workload)])
    if workload == "ref_index_long":
        return gen.text_corpus(rng, work / "corpus",
                               gen.heavy_tailed_sizes(rng, 120, 4e6), 30000)
    if workload == "ref_index_short":
        return gen.text_corpus(rng, work / "corpus",
                               gen.short_sizes(rng, 600), 30000)
    if workload == "curated_ingest":
        (work / "curated").mkdir(parents=True)
        return gen.curated_documents(rng, 400,
                                     work / "curated" / "documents.parquet")
    size = gen.tpch_tables(rng, 0.01, work / "tpch")
    params = gen.tpch_params(rng)
    (work / "tpch" / "params.txt").write_text(
        "".join(f"{k}={v}\n" for k, v in params.items()))
    return size


def letters_differ(out_dir, expected):
    """None when `out_dir` holds exactly the 26 expected files."""
    names = sorted(p.name for p in out_dir.iterdir())
    if names != sorted(f"{c}.txt" for c in expected):
        return f"files {names}"
    for c, data in expected.items():
        if (out_dir / f"{c}.txt").read_bytes() != data:
            return f"{c}.txt differs"
    return None


def check_letters(work):
    """(failed iterations, reasons); also proves a dropped line is caught."""
    expected = gen.expected_letters(work / "corpus" / "manifest.txt")
    outs = sorted((work / "out").iterdir(), key=lambda p: int(p.name))
    bad = {p.name: r for p in outs if (r := letters_differ(p, expected))}
    c = next(c for c, d in expected.items() if d.count(b"\n") > 1)
    corrupt = work / "corrupt"
    shutil.copytree(outs[0], corrupt)
    lines = (corrupt / f"{c}.txt").read_bytes().split(b"\n")
    (corrupt / f"{c}.txt").write_bytes(b"\n".join(lines[1:]))
    if letters_differ(corrupt, expected) is None:
        raise SystemExit("self-check failed: a dropped line went unnoticed")
    return len(bad), bad


def check_tpch(work, res):
    params = dict(line.split("=", 1) for line in
                  (work / "tpch" / "params.txt").read_text().splitlines())
    got = oracle.check(work / "tpch", work / "spark_out", params)
    bad = {k: v for k, v in got.items() if v != "OK"}
    if len(got) != 22:
        bad["export"] = f"{len(got)} of 22 queries exported"
    victim = "q1_pricing"  # always has rows
    if oracle.check(work / "tpch", work / "spark_out", params,
                    drop_one_row=victim)[victim] == "OK":
        raise SystemExit("self-check failed: a dropped row went unnoticed")
    # every later iteration was compared with the first in the JVM, so a
    # wrong first result makes every iteration wrong
    return (res["iterations"] if bad else 0), bad


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run raises SystemExit, so subprocess.run kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    try:
        classpath = build.ensure()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    input_bytes = generate(a.workload, a.seed, work)
    cpus = len(os.sched_getaffinity(0))
    trace_file = WORK / "trace" / f"{a.workload}-{a.seed}.jsonl"
    trace_file.parent.mkdir(parents=True, exist_ok=True)
    def jvm(out):
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work / 'tmp'}"] + ADD_OPENS +
               ["-cp", classpath, "perfbench.GraftBench",
                "--workload", a.workload, "--work", str(work),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus), "--out", str(work / out),
                "--setups", str(SETUPS), "--trace_out", str(trace_file)])
        with open(work / "jvm.log", "a") as log:
            try:
                code = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                      timeout=2 * a.seconds + 140,
                                      cwd=work).returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0:
            tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
            sys.exit(f"benchmark JVM failed ({code}):\n{tail}")
        return json.loads((work / out).read_text())

    res = jvm("result.json")

    failed, reasons = res["failed"], {}
    if a.workload.startswith("ref_index"):
        late, reasons = check_letters(work)
        failed += late
    elif a.workload == "tpch_batch":
        late, reasons = check_tpch(work, res)
        failed += late
    attempted = res["iterations"]
    failed = min(failed, attempted)
    for k, v in reasons.items():
        print(f"FAILED {k}: {v}", file=sys.stderr)

    wall = statistics.median(res["wall_s"])
    samples = res["samples"]
    counts = res["counts"]
    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "first_run_s": (res["first_run_s"], "s"),
        "wall_s": (wall, "s"),
        "input_mb_per_s": (input_bytes / 1e6 / wall, "MB/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "fail_ratio": (failed / attempted, "ratio"),
    }
    if a.workload == "curated_ingest":
        e2e["batch_s"] = (statistics.median(samples["batch_s"]), "s")
        e2e["read_s"] = (statistics.median(samples["read_s"]), "s")
        store = res["first_counts"]
        e2e["write_amp"] = (store["streaming.store.bytes_written"] /
                            input_bytes, "ratio")
        e2e["space_amp"] = (store["streaming.store.bytes_live"] /
                            input_bytes, "ratio")
    for name in ("batch_s", "read_s", "write_amp", "space_amp"):
        if name not in e2e:
            print(f"{name}: n/a")
    for name, (v, unit) in e2e.items():
        print(f"{name}: {v:.6g} {unit}")
    q1, q2, q3 = quartiles(res["wall_s"])
    print(f"wall_s quartiles: {q1:.4f} {q2:.4f} {q3:.4f} over "
          f"{len(res['wall_s'])} warm runs")
    print("wall_s samples: " + " ".join(f"{x:.3f}" for x in res["wall_s"]))
    print(f"cold_setup_s: {res['cold_setup_s']:.3f} s (JVM start to ready)")
    print("setup_s samples: " + " ".join(f"{x:.3f}" for x in res["setup_s"]))

    layer = {}
    if a.trace:
        per_span = res["per_layer"]
        traced = statistics.mean(res["traced_wall_s"])
        layer["trace.wall_s"] = traced
        layer["trace.overhead_s"] = traced - statistics.mean(res["wall_s"])
        for span in sorted(per_span):
            for c, v in sorted(per_span[span].items()):
                layer[f"{span}.{c}"] = v
        for c, v in counts.items():
            layer[c if "." in c else f"exact.{c}"] = v
        for name, v in layer.items():
            print(f"{name}: {v:.6g}")

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace,
        "host": dict(res["host"], git_commit=git_commit(),
                     source_sha256=(ROOT / ".bench_build" / "stamp")
                     .read_text()[:16]),
        "input_mb": round(input_bytes / 1e6, 3),
        "metrics": {k: round(v, 6) for k, (v, _) in e2e.items()},
        "counts": counts,
        "attempted": attempted, "failed": failed,
    }
    if a.trace:
        record["trace_overhead_s"] = round(layer["trace.overhead_s"], 6)
    with open(WORK / "results.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    line = json.dumps(record, separators=(",", ":"))
    if len(line) >= 2000:
        del record["counts"]
        line = json.dumps(record, separators=(",", ":"))
    print(line)

    if a.trace:
        metrics, missing = {}, []
        for m in spec["per_layer"]:
            name = m["name"]
            span = next((s for ss in SPANS.values() for s in ss
                         if name.startswith(s + ".")), None)
            if name not in layer and (span is None or
                                      span in SPANS[a.workload]):
                missing.append(name)
            metrics[name] = {"value": layer.get(name, 0.0), "unit": m["unit"]}
        for name in missing:
            print(f"FAILED trace has no {name}", file=sys.stderr)
        correct = failed == 0 and not missing
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
