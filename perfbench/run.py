#!/usr/bin/env python3
"""Study benchmark: one seeded workload through the library's public
entry points in one Spark JVM, with output checks against DuckDB.

    python3 perfbench/run.py --workload tpcds-sf0.1 --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the library
and the Scala side (perfbench/scala) with the Scala compiler in Spark's
jars; later runs reuse the build.
The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Everything the
run leaves behind goes to .perfbench/ in the checkout; see
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from pbench import build, metrics, oracle  # noqa: E402

# size knobs per workload; "smoke" is the tiny variant the tests run.
# tpcds-sf0.1 is run by hand only (not in BENCHMARK.json): one of its
# set-ups costs more than a whole run of the other workloads
SIZES = {
    "tpcds-sf0.1": {"src": "sf0.01", "mult": "10", "stride": "4",
                    "setup_reps": "1"},
    "synth-sf0.01": {"src": "sf0.01", "queries": "40", "setup_reps": "3"},
    "llm-curate": {"src": "sf0.01", "docs": "1000", "setup_reps": "3"},
}
SMOKE = {
    "tpcds-sf0.1": {"src": "sf0.001", "mult": "1", "stride": "20",
                    "setup_reps": "1"},
    "synth-sf0.01": {"src": "sf0.001", "queries": "6", "setup_reps": "1"},
    "llm-curate": {"src": "sf0.001", "docs": "300", "setup_reps": "1"},
}
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# bulky run outputs removed once the metrics are taken; logs, spans,
# checks and the runner's workload logs stay as the run's artifacts
SCRATCH = ["tpcds-data-", "llm-docs", "llm-corpus", "llm-kept", "warehouse",
           "spark-local", "tmp", "synth-queries", "tpcds-queries"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def provenance(root: Path, args, result, digest) -> dict:
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return dict(result["provenance"], seed=args.seed, git_commit=commit,
                source_sha256=digest, nproc=cpus(),
                heap=HEAP, loadavg=os.getloadavg())


def launch(root: Path, classes: Path, work: Path, args, sizes) -> None:
    jars = build.spark_home() / "jars"
    testdata = Path(os.environ.get("PERFBENCH_TESTDATA", Path.home() / "testdata"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java(), "-Xms1g", f"-Xmx{HEAP}", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dgraft.workload.dir={root / 'workloads' / 'tpcds_like'}",
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           f"workload={args.workload}", f"seed={args.seed}",
           f"seconds={args.seconds}", f"trace={args.trace}", f"work={work}",
           f"repo={root}", f"testdata={testdata}", f"cpus={cpus()}"]
    cmd += [f"{k}={v}" for k, v in sizes.items()]
    (work / "tmp").mkdir(parents=True)
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; see {work / 'jvm.log'}")
        finally:  # also on a signal: no JVM outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"benchmark JVM exited {rc}; log tail:\n{tail}")


def repeat_check(root: Path, tag: str, sizes: dict, info: dict) -> list:
    """The exact counts of a seed (llm-curate) must equal those of every
    earlier run of the same seed and sizes in this checkout: a change is
    a change of behaviour, not of speed."""
    if "counts" not in info:
        return []
    seen = {k: info[k] for k in ("counts", "corpus")}
    key = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:12]
    path = root / ".perfbench" / "expect" / f"{tag.replace('-trace1', '-trace0')}-{key}.json"
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(seen))
        return [("counts_match_earlier_runs", True, "first run of this seed")]
    want = json.loads(path.read_text())
    ok = {k: v[:1] for k, v in want.items()} == {k: v[:1] for k, v in seen.items()}
    return [("counts_match_earlier_runs", ok,
             "" if ok else f"now {seen}, earlier {want}")]


def untraced_base(root: Path, tag: str, digest: str):
    """run_s of an untraced run of the same seed and sources in this
    checkout, the base of the tracing overhead; None if there is none."""
    path = root / ".perfbench" / "runs" / tag.replace("-trace1", "-trace0") / "metrics.json"
    try:
        m = json.loads(path.read_text())
    except (OSError, ValueError):
        return None
    if m["provenance"].get("source_sha256") != digest:
        return None
    return m["detail"]["run_s"]


def cv_bound(root: Path) -> float:
    """The run_cpu_s bound from BENCHMARK.json: queries whose CV is
    above it are the ones the benchmark cannot resolve one by one."""
    try:
        spec = json.loads((root / "BENCHMARK.json").read_text())
        return next(m["bound"] for m in spec["end_to_end"] if m["name"] == "run_cpu_s")
    except (OSError, ValueError, StopIteration, KeyError):
        return 0.2


def detail_unit(name: str) -> str:
    """Unit of a report-only figure, from its name."""
    if name.endswith(("_per_s", "_qps")):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name in ("op_samples", "query_executions"):
        return "count"
    return "ratio"


def report(args, result, checks, line, detail, layers, bound):
    """Readable summary, printed above the result object."""
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"passes {len(result['passes'])}")
    prov = result["provenance"]
    print(f"provenance {json.dumps(prov, sort_keys=True)}")
    print(f"cpu probe before {result['probes']['before_s']} "
          f"after {result['probes']['after_s']} (s; recorded, never applied)")
    units = dict(metrics.END_TO_END + metrics.per_layer_spec())
    for k, v in line.items():
        print(f"  {k:40s} {v:>16.6g} {units.get(k, '')}")
    for k, v in detail.items():
        shown = "n/a (fewer than 10 samples above)" if v is None else f"{v:.6g}"
        print(f"  {k:40s} {shown:>16s} {detail_unit(k)}")
    for k, v in sorted(layers.items()):
        if k.endswith("_s") and k not in line and not isinstance(v, dict):
            print(f"  layer {k:34s} {v:>16.6g} s")
    for k, v in sorted(layers.get("layer_self_s", {}).items()):
        print(f"  self  {k:34s} {v:>16.6g} s")
    bad = [c for c in checks if not c[1]]
    print(f"checks {len(checks) - len(bad)} ok / {len(bad)} failed")
    for c in bad[:20]:
        print(f"  FAILED {c[0]}: {c[2]}")
    cv = result["info"].get("cv_table") or []
    if cv:
        noisy = [f"q{r['query_id']}" for r in cv if r["cv_pct"] > 100 * bound]
        print(f"per-query CV over this run's runner logs "
              f"({cv[0]['n_runs']} runs, {len(cv)} queries); "
              f"above {100 * bound:.0f}%: {', '.join(noisy) or 'none'}")
        for r in cv[:10]:
            print(f"  q{r['query_id']:<6} mean {r['mean_s']:.4f} s  "
                  f"cv {r['cv_pct']:.1f}%")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs from the sf0.001 fixture")
    args = ap.parse_args(argv)
    # a termination signal unwinds like an error, so the build and the
    # JVM are killed and waited for on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    needed = ["src/main/scala/graft", "workloads/tpcds_like", "perfbench/scala/src"]
    missing = [p for p in needed if not (root / p).exists()]
    if missing:
        fail(f"not a checkout of the library (missing {', '.join(missing)})")
    testdata = Path(os.environ.get("PERFBENCH_TESTDATA", Path.home() / "testdata"))
    sizes = dict((SMOKE if args.smoke else SIZES)[args.workload])
    if not (testdata / sizes["src"]).is_dir():
        fail(f"fixture dir {testdata / sizes['src']} not found "
             f"(set PERFBENCH_TESTDATA)")

    try:
        import duckdb  # noqa: F401  (the output check needs it)
    except ImportError:
        fail(f"python module duckdb not found for {sys.executable}")
    try:
        classes, digest = build.ensure_built(root, log)
    except (OSError, RuntimeError) as e:
        fail(str(e))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}" + ("-smoke" if args.smoke else "")
    work = root / ".perfbench" / "runs" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.time()
    launch(root, classes, work, args, sizes)
    result = json.loads((work / "result.json").read_text())
    spans = [json.loads(x) for x in (work / "spans.ndjson").read_text().splitlines()]
    records = [json.loads(x) for x in (work / "checks.ndjson").read_text().splitlines()]
    checks = oracle.check_all(records) + repeat_check(root, tag, sizes, result["info"])
    result["provenance"] = provenance(root, args, result, digest)

    passes = result["passes"]
    attempted, failed = metrics.failure_counts(passes, checks)
    detail = metrics.workload_detail([p for p in passes if not p["traced"]])
    detail["failed_frac"] = failed / attempted
    if args.trace:
        line, layers = metrics.per_layer(result, spans, untraced_base(root, tag, digest))
    else:
        line, layers = metrics.end_to_end(result, passes), {}
    report(args, result, checks, line, detail, layers, cv_bound(root))
    out = metrics.result_line(line, attempted, failed)
    (work / "metrics.json").write_text(json.dumps(
        dict(out, detail=detail, layers=layers, checks=checks,
             provenance=result["provenance"], wall_s=time.time() - t0), indent=1))
    for p in work.iterdir():
        if any(p.name.startswith(s) for s in SCRATCH):
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
