#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload tiles|mixed --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into the checkout; later runs reuse
the build while the sources are unchanged. The harness (src/graft/
perfbench) sets the engine up, drives its HTTP server with closed-loop
clients and logs every request; this script checks every answer,
reduces the log to metrics, and prints them as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics of a traced run, and writes that run's per-layer table
and span file next to its log (.bench_build/runs/<run>/).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import layers as layer_table  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")

# cube and workload constants shared with Harness.scala
GRID = dict(width=1000, height=500, lon_min=0.0, lat_min=40.0, res=0.02)
VARIABLES = ["conc_chl", "conc_tsm"]
NUM_TIMES = 5
NAN_EVERY = 10
DATES = [f"2017-01-0{d}T00:00:00Z" for d in range(1, NUM_TIMES + 1)]
# decoded-chunk cache, scaled with the cube (see README.md)
CHUNK_CACHE_MB = 32
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
HARNESS_TIMEOUT_S = 170
ZARR_TIMEOUT_S = 300
# a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return None


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build in this checkout. Returns (classpath, stamp)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources under src/main/scala "
                         "(run from the root of a graft checkout)")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"], stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cps = [ln for ln in p.stdout.splitlines()
           if not ln.startswith("[") and "scala-2.13/classes" in ln]
    if not cps:
        raise SystemExit("perfbench: build printed no classpath")
    with open(CLASSPATH, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1], stamp


def harness(classpath, args, log_path, timeout):
    """Run the harness JVM with `args`, its output in `log_path`."""
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    cmd = ["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           f"-Dgraft.chunkCache.mb={CHUNK_CACHE_MB}"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Harness", args[0], args[1],
            args[2], args[3], str(cpus)] + args[4:]
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness timed out")
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")


def run_harness(classpath, stamp, a, out):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    # the zarr levels depend only on the engine build: written once, by a
    # process of their own, so that every measuring run starts alike
    zarr = os.path.join(BUILD, f"zarr-{stamp[:16]}")
    if a.workload == "tiles" and not os.path.exists(
            os.path.join(zarr, "complete")):
        log("writing the zarr levels (once per engine build)")
        harness(classpath, ["zarr", "0", "0", "0", out, zarr],
                os.path.join(out, "zarr.log"), ZARR_TIMEOUT_S)
    harness(classpath, [a.workload, str(a.seed), str(a.seconds),
                        str(a.trace), out, zarr],
            os.path.join(out, "harness.log"), HARNESS_TIMEOUT_S)


def read_samples(out):
    rows = []
    with open(os.path.join(out, "samples.tsv")) as f:
        for line in f:
            c = line.rstrip("\n").split("\t")
            rows.append(dict(client=int(c[0]), seq=int(c[1]), kind=c[2],
                             start_ns=int(c[3]), end_ns=int(c[4]),
                             status=int(c[5]), ctype=c[6], w=int(c[7]),
                             h=int(c[8]), bytes=int(c[9])))
    return rows


def percentile(sorted_ms, q):
    """Nearest-rank percentile (None for no samples)."""
    n = len(sorted_ms)
    return sorted_ms[min(n - 1, int(q * n))] if n else None


def supported(n, q):
    """A percentile counts only with MIN_BEYOND samples beyond it."""
    return n * (1 - q) >= MIN_BEYOND


def check_all(out, samples):
    """Every answer of the run → (attempted, failed, first errors)."""
    errors = []
    failed = 0
    tiles = [s for s in samples if s["kind"] == "tile"]
    for s in tiles:
        e = checks.check_tile_reply(s["status"], s["ctype"], s["w"], s["h"])
        if e:
            failed += 1
            errors.append(f"tile {s['client']}-{s['seq']}: {e}")
    with open(os.path.join(out, "pixels.json")) as f:
        pix = json.load(f)["tiles"]
    for t in pix:
        with open(os.path.join(out, "pixels", f"served{t['i']}.png"), "rb") as f:
            served = f.read()
        with open(os.path.join(out, "pixels", f"ref{t['i']}.png"), "rb") as f:
            ref = f.read()
        e = checks.check_pixels(served, ref)
        if e:
            failed += 1
            errors.append(f"pixels {t['path']}: {e}")
    ts = []
    with open(os.path.join(out, "ts.jsonl")) as f:
        ts = [json.loads(ln) for ln in f]
    if ts:
        cube = checks.Cube(GRID["width"], GRID["height"], GRID["lon_min"],
                           GRID["lat_min"], GRID["res"], VARIABLES,
                           NUM_TIMES, NAN_EVERY, DATES)
        for rec in ts:
            e = checks.check_ts(cube, rec)
            if e:
                failed += 1
                errors.append("; ".join(e[:3]))
    attempted = len(samples) + len(pix)
    return attempted, failed, errors, len(pix)


def latency_stats(samples, kind_prefix, timed_s):
    lat = sorted((s["end_ns"] - s["start_ns"]) / 1e6 for s in samples
                 if s["kind"].startswith(kind_prefix))
    return dict(n=len(lat), p50=percentile(lat, 0.5), p95=percentile(lat, 0.95),
                p99=percentile(lat, 0.99), rps=len(lat) / timed_s,
                mean=statistics.fmean(lat) if lat else None)


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["tiles", "mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    classpath, stamp = build()
    out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    run_harness(classpath, stamp, a, out)
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    samples = read_samples(out)
    attempted, failed, errors, pixels = check_all(out, samples)
    for e in errors[:10]:
        log(f"WRONG: {e}")
    timed_s = summary["timed_s"]
    tile = latency_stats(samples, "tile", timed_s)
    ts = latency_stats(samples, "ts.", timed_s)
    short = [n for n, q in (("tile_p50_ms", 0.5),) if not supported(tile["n"], q)]
    if short:
        log(f"too few tile samples ({tile['n']}) for {short}: the run "
            "does not count")
    load_end = os.getloadavg()[0]
    cpu_end = cpu_times()
    # share of CPU time the hypervisor gave to other guests during the
    # run: on a VM the load average counts only this guest's own work
    steal = None
    if cpu_start and cpu_end and cpu_end[1] > cpu_start[1]:
        steal = (cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1])
    record = dict(workload=a.workload, seed=a.seed, seconds=a.seconds,
                  trace=a.trace, load_avg_1m_start=load_start,
                  load_avg_1m_end=load_end, cpu_steal_share=steal,
                  attempted=attempted,
                  failed=failed, pixel_checks=pixels, tile=tile, ts=ts,
                  summary=summary, errors=errors[:50])

    if a.trace == 0:
        metrics = {
            "setup_s": metric(statistics.median(summary["setup_s"]), "s"),
            "tile_p50_ms": metric(tile["p50"], "ms"),
            "tile_rps": metric(tile["rps"], "tiles/s"),
            "retained_heap_mb": metric(summary["retained_heap_mb"], "MB"),
        }
    else:
        with open(os.path.join(out, "layers.json")) as f:
            lay = json.load(f)
        lay["server.ts.latency_ms"] = ts["mean"] or 0.0
        lay["trace.tile_p50_ms"] = tile["p50"]
        lay["trace.tile_p95_ms"] = tile["p95"]
        lay["trace.tile_rps"] = tile["rps"]
        metrics = {name: metric(lay.get(name, 0.0), unit)
                   for name, unit in layer_table.PER_LAYER}
        table = layer_table.render(a.workload, lay,
                                   os.path.join(out, "spans.jsonl"))
        with open(os.path.join(out, "layers.md"), "w") as f:
            f.write(table)
        record["layers"] = lay
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"load avg 1m start {load_start:.2f} end {load_end:.2f}; "
        f"cpu steal {steal if steal is None else round(steal, 4)}; "
        f"tiles n={tile['n']} ts n={ts['n']} ts p50={ts['p50']}; "
        f"record {os.path.relpath(out, ROOT)}/record.json")
    correct = failed == 0 and not short
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
