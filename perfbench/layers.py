"""Per-layer metrics of a traced run and the table written beside it.

Self time of a span = its duration minus the part of it that its child
spans cover. The harness records a span around every call it makes into
a layer (see Harness.scala) and lays the server's `Perf` stages out as
children of the client request that caused them.
"""
import json
from collections import defaultdict

# (name, unit) of every per-layer metric, in BENCHMARK.json order. A
# metric whose layer the workload never reaches reads 0 (e.g. the
# analytics layers on `tiles`).
PER_LAYER = [
    ("server.tile.parse_ms", "ms"),
    ("server.tile.render_ms", "ms"),
    ("server.tile.send_ms", "ms"),
    ("server.tile_cache.hit_ratio", "ratio"),
    ("server.tile.requests", "count"),
    ("server.tile.misses", "count"),
    ("server.http_gap_ms", "ms"),
    ("server.ts.parse_ms", "ms"),
    ("server.ts.query_ms", "ms"),
    ("server.ts.encode_ms", "ms"),
    ("server.ts.latency_ms", "ms"),
    ("sources.window_reads", "count"),
    ("sources.window_read_ms", "ms"),
    ("sources.window_read_fallbacks", "count"),
    ("render.window_png_ms", "ms"),
    ("render.png_kb", "KB"),
    ("cube.write_levels_s", "s"),
    ("sources.write_zarr_s", "s"),
    ("sources.open_s", "s"),
    ("geo.mask_ms", "ms"),
    ("operators.ts_plan_ms", "ms"),
    ("catalyst.queries", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.jobs_per_request", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.task_gc_ms", "ms"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.driver_gap_ms", "ms"),
    ("jvm.gc_ms", "ms"),
    ("jvm.heap_peak_mb", "MB"),
    ("trace.tile_p50_ms", "ms"),
    ("trace.tile_p95_ms", "ms"),
    ("trace.tile_rps", "tiles/s"),
]


def self_times(spans_path):
    """name → [count, total ms, self ms] over the span file."""
    spans = []
    with open(spans_path) as f:
        for line in f:
            spans.append(json.loads(line))
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    agg = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = sorted((max(a, lo), min(b, hi)) for a, b in children[s["id"]]
                    if min(b, hi) > max(a, lo))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        g = agg[s["name"]]
        g[0] += 1
        g[1] += (hi - lo) / 1e6
        g[2] += (hi - lo - covered) / 1e6
    return agg


def render(workload, lay, spans_path):
    lines = [f"# Traced run: `{workload}`", "",
             "| metric | value |", "|---|---|"]
    for name, unit in PER_LAYER:
        v = lay.get(name, 0.0)
        lines.append(f"| `{name}` | {v:.4g} {unit} |")
    lines += ["", "## Spans (self time = duration minus child coverage)", "",
              "| span | count | total ms | self ms | mean self ms |",
              "|---|---|---|---|---|"]
    for name, (n, tot, slf) in sorted(self_times(spans_path).items(),
                                      key=lambda kv: -kv[1][2]):
        lines.append(f"| `{name}` | {n} | {tot:.1f} | {slf:.1f} | "
                     f"{slf / n:.3f} |")
    return "\n".join(lines) + "\n"
