#!/usr/bin/env python3
"""perfbench: seeded benchmark of the graft Spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: filter_batch, curation_ngrams, profile_json
(see perfbench/LAYERS.md). One run:

1. compiles the program (`src/main/scala`) together with the benchmark
   (`perfbench/src`) with the Scala compiler shipped in `$SPARK_HOME/jars`,
   into `.bench_build/` (skipped when the sources are unchanged);
2. generates the seeded inputs under `.bench_work/`;
3. runs one JVM with Spark `local[nproc]`, one closed-loop client;
4. runs the output checks (for `curation_ngrams` also
   `tools/check_oracle.py`, once per seed);
5. prints every metric with its unit; the last stdout line is the JSON
   result `{"correct", "attempted", "failed", "metrics"}`.

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones and writes the spans to
`.bench_work/runs/<workload>-s<seed>-t1/spans.jsonl`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402

ROOT = Path.cwd()
BENCH_DIR = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
APP_JAR = BUILD / "perfbench.jar"
# Application class-data sharing: the first run after a build dumps the
# classes it loaded; later runs map them instead of loading them again,
# which halves JVM and Spark start-up.
CDS = BUILD / "classes.jsa"
WORK = ROOT / ".bench_work"
WORKLOADS = ("filter_batch", "curation_ngrams", "profile_json")
NEEDED = ["BENCHMARK.json", "src/main/scala/graft", "fixtures/models/langid.bin",
          "fixtures/models/knlm.bin", "fixtures/golden/labels.jsonl",
          "tools/check_oracle.py"]
DOCUMENTS = 1000
JSON_DOCS = 6000
KERNEL_SAMPLE = 256
JVM_TIMEOUT_S = 130
SETUP_SAMPLES = 3
SETUP_TIMEOUT_S = 15
HEAP = "2g"

# per-layer metrics that only one workload exercises; on the others the
# layer is idle and reads 0 (every other per-layer metric is measured on
# every workload)
ONLY_ON = {
    "filter.score_s": "filter_batch",
    "filter.verdicts_s": "filter_batch",
    "filter.scaling_eff": "filter_batch",
    "catalog.": "filter_batch",
    "jobs.": "filter_batch",
    "queries.": "curation_ngrams",
    "profile.observations_s": "profile_json",
    "profile.profile_s": "profile_json",
    "profile.diff_s": "profile_json",
}

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (same list as the program's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def only_on(metric):
    for prefix, workload in ONLY_ON.items():
        if metric == prefix or (prefix.endswith(".") and metric.startswith(prefix)):
            return workload
    return None


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return shutil.which("java") or die("no java on PATH")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    if not home or not (Path(home) / "jars").is_dir():
        die("SPARK_HOME with a jars/ directory is required")
    return Path(home) / "jars"


def sources():
    prog = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    bench = sorted((BENCH_DIR / "src").rglob("*.scala"))
    return prog + bench


def build(jars):
    """Compile program + benchmark into APP_JAR, once per source set."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    h.update(" ".join(c.name for c in compiler).encode())
    key = h.hexdigest()
    classes = BUILD / "classes"
    stamp = BUILD / "classes.stamp"
    if stamp.exists() and stamp.read_text() == key and APP_JAR.exists():
        return
    if not compiler:
        die(f"no scala-compiler jar in {jars}")
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    scala = [str(j) for j in sorted(jars.glob("scala-*.jar"))]
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(
        [java_bin(), "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(scala),
         "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
         "-classpath", os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar"))),
         "-d", str(tmp), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    # the class-data archive holds only classes from jars, and is tied to them
    with zipfile.ZipFile(APP_JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    CDS.unlink(missing_ok=True)
    stamp.write_text(key)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s")


def gen_inputs(workload, seed, inputs):
    sizes = {}
    gen.json_sample(seed, KERNEL_SAMPLE, inputs / "sample.jsonl")
    if workload == "curation_ngrams":
        sizes["documents"] = gen.documents(seed, DOCUMENTS, inputs / "documents.parquet")
    if workload == "profile_json":
        sizes["json"] = gen.json_versions(seed, JSON_DOCS, inputs)
    return sizes


def run_jvm(jars, args, work, inputs, nproc, setup_only=False, timeout=JVM_TIMEOUT_S):
    """One benchmark JVM with its own work directory; returns its result."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # A fixed, pre-touched heap and the JVM's default collector (G1, as the
    # program runs). Without a fixed heap, VmHWM follows G1's young-gen
    # sizing, which swings with timing: 908-1180 MB over five runs of one
    # profile_json input on a 4-core VM, while the heap in use after GC
    # stayed at 118 MB. Heap use is measured from the collector instead
    # (heap_live_mb, jvm.heap_peak_mb); VmHWM reads the heap plus native
    # memory.
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-XX:SharedArchiveFile={CDS}" if CDS.exists()
           else f"-XX:ArchiveClassesAtExit={CDS}.tmp",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{APP_JAR}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--inputs", str(inputs),
            "--nproc", str(nproc), "--setup-only", str(int(setup_only))]
    log = work / "jvm.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=timeout, cwd=ROOT)
        except subprocess.TimeoutExpired:
            sys.stderr.write(log.read_text()[-6000:])
            die(f"benchmark JVM exceeded {timeout} s")
    if r.returncode != 0 or not (work / "result.json").exists():
        sys.stderr.write(log.read_text()[-6000:])
        die(f"benchmark JVM failed with code {r.returncode}")
    if Path(f"{CDS}.tmp").exists():
        Path(f"{CDS}.tmp").rename(CDS)
    return json.loads((work / "result.json").read_text())


def oracle_check(seed, work, inputs, res):
    """tools/check_oracle.py on the checked pass, once per seed and digest set.

    A failing query fails its check and every timed run of it (each timed
    run reproduced the checked digest).
    """
    digests = res["info"]["checked_digests"]
    key = hashlib.sha256(json.dumps([seed, sorted(digests.items())]).encode()).hexdigest()[:16]
    ok_file = WORK / "oracle-ok" / f"seed{seed}-{key}"
    if ok_file.exists():
        return 0, len(digests), "cached"
    t0 = time.time()
    r = subprocess.run([sys.executable, str(ROOT / "tools/check_oracle.py"),
                        str(inputs), str(work / "oracle")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=150)
    bad = [ln.split(":")[0] for ln in r.stdout.splitlines()
           if ":" in ln and not ln.split(":", 1)[1].strip().startswith("OK")]
    bad += [q for q, d in digests.items() if d == "failed" and q not in bad]
    if r.returncode != 0 and not bad:  # the checker itself failed
        bad = sorted(digests)
    failed = len(bad) + sum(res["info"]["timed_runs"].get(q, 0) for q in bad)
    if r.returncode == 0 and not bad:
        ok_file.parent.mkdir(parents=True, exist_ok=True)
        ok_file.write_text(r.stdout)
    else:
        sys.stderr.write(r.stdout[-3000:])
    verdict = "ok" if not bad else f"failed: {' '.join(bad)}"
    return failed, len(digests), f"{verdict} in {time.time() - t0:.1f} s"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in NEEDED if not (ROOT / p).exists()]
    if missing:
        die(f"run from the repository root; missing: {', '.join(missing)}")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    nproc = os.cpu_count() or 1
    jars = spark_jars()
    build(jars)

    run_key = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = WORK / f"{run_key}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "inputs").mkdir(parents=True)
    try:
        sizes = gen_inputs(args.workload, args.seed, work / "inputs")
        res = run_jvm(jars, args, work, work / "inputs", nproc)
        attempted, failed = res["attempted"], res["failed"]
        if not args.trace:
            # setup_s: the median of cold set-ups, each in a fresh JVM
            setups = [res["metrics"]["setup_s"]] + [
                run_jvm(jars, args, work / f"setup{i}", work / "inputs", nproc,
                        setup_only=True, timeout=SETUP_TIMEOUT_S)["metrics"]["setup_s"]
                for i in range(1, SETUP_SAMPLES)]
            res["info"]["setup_samples_s"] = setups
            res["metrics"]["setup_s"] = statistics.median(setups)
            (work / "result.json").write_text(json.dumps(res))
        oracle = None
        if args.workload == "curation_ngrams":
            f, n, oracle = oracle_check(args.seed, work, work / "inputs", res)
            attempted += n
            failed += f
        keep = WORK / "runs" / run_key
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        for name in ("result.json", "spans.jsonl", "jvm.log"):
            if (work / name).exists():
                shutil.copy(work / name, keep / name)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            home = only_on(m["name"])
            if home is None or home == args.workload:
                die(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    info = res["info"]
    print(f"perfbench {args.workload} seed={args.seed} nproc={nproc} "
          f"trace={args.trace} ops={info.get('ops')} steal_pct={info.get('steal_pct'):.3f} "
          f"error_rate={failed / max(attempted, 1):.4f} ({failed}/{attempted})"
          + (f" oracle={oracle}" if oracle else ""))
    print("inputs: " + json.dumps({**sizes, **{k: v for k, v in info.items()
                                               if k.startswith("input.")}}))
    for c in res["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}")
    for name, m in metrics.items():
        print(f"  {name:<34} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
