"""Per-layer metrics of a traced run.

Layers are the engine's modules: ``ingest``, ``derive``, ``export``,
``serve``, ``streaming`` and ``core`` (session set-up). A span belongs to
the layer its name starts with; ``setup`` spans belong to ``core``.

Spark counters are attributed to spans outside-in: jobs carry the span id
as a local property (tasks and stages follow their job), planning phases
go to the innermost span open when the phase started, and codegen counts
are the span's own delta minus its children's.

Values are per operation of the measured loop (request or micro-batch).
A layer that only runs during set-up (ingest, derive and export, the ETL
of purl_lookup) is reported per set-up instead.
"""

import checks
import stats

LAYERS = ("ingest", "derive", "export", "serve", "streaming")
PER_LAYER = ("wall_s", "no_task_s", "plan_ms", "codegen_n", "codegen_ms",
             "jobs", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
             "shuffle_mb", "spill_mb")
UNITS = {"wall_s": "s", "no_task_s": "s", "plan_ms": "ms",
         "codegen_n": "count", "codegen_ms": "ms", "jobs": "count",
         "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
         "task_gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
MARTS = ("advisories", "impacts", "unfurled", "packages", "version_ranks",
         "nearest_fixes", "advisory_risk", "package_risk", "advisory_sets",
         "todos", "conflicts", "changelog", "ssvc_decisions",
         "ssvc_relations", "commit_patches", "mitigations",
         "mitigation_curation", "cvss31_severities", "package_counts",
         "vulnerabilities", "vulnerability_membership",
         "v1_package_vuln_counts", "code_fixes", "package_changelog")
KINDS = ("purl", "bulk", "package", "search")
PLAN_PHASES = ("analysis", "optimization", "planning")
MB = 1024.0 * 1024.0


def layer_of(name):
    if name == "root":
        return "root"
    head = name.split(".", 1)[0]
    return "core" if head in ("setup", "core") else head


def innermost(spans, t):
    """The latest-starting span that contains time t (spans nest, so that
    is the innermost)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None
                                            or s["start"] >= best["start"]):
            best = s
    return best


def per_layer(workload, result):
    """(metric name -> (value, unit), trace written at run end)."""
    tr = result["trace"]
    spans = tr["spans"]
    by_id = {s["id"]: s for s in spans}
    loop_start = tr["loop_start"]
    for s in spans:
        s["layer"] = layer_of(s["name"])
        s["phase"] = "loop" if s["start"] >= loop_start else "setup"
    selfs = stats.self_times(spans)
    for s in spans:
        s["self"] = selfs[s["id"]]

    # Counters per span id.
    zero = dict.fromkeys(PER_LAYER, 0.0)
    acc = {s["id"]: dict(zero) for s in spans}
    stage_span = {}
    for j in tr["jobs"]:
        span = j["span"] if j["span"] in acc else 0
        acc[span]["jobs"] += 1
        for st in j["stages"]:
            stage_span[st] = span
    task_intervals = []
    for stage, launch, finish, run_ms, cpu_ms, gc_ms in tr["tasks"]:
        task_intervals.append((launch, finish))
        a = acc[stage_span.get(int(stage), 0)]
        a["tasks"] += 1
        a["task_run_s"] += run_ms / 1e3
        a["task_cpu_s"] += cpu_ms / 1e3
        a["task_gc_s"] += gc_ms / 1e3
    for st in tr["stages"]:
        a = acc[stage_span.get(st["stage"], 0)]
        a["shuffle_mb"] += st["shuffle_write_bytes"] / MB
        a["spill_mb"] += st["spill_bytes"] / MB
    scan_rows = {}
    scan_files = {}
    for q in tr["queries"]:
        phases = q["phases"]
        started = min((p[0] for p in phases.values()), default=None)
        for name, (start, end) in phases.items():
            if name in PLAN_PHASES:
                s = innermost(spans, start) or by_id[0]
                acc[s["id"]]["plan_ms"] += end - start
        if started is not None:
            s = innermost(spans, started) or by_id[0]
            scan_rows[s["id"]] = scan_rows.get(s["id"], 0) + q["scan_rows"]
            scan_files[s["id"]] = scan_files.get(s["id"], 0) + q["scan_files"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = children.get(s["id"], [])
        acc[s["id"]]["codegen_n"] = s["codegen_n"] - sum(
            k["codegen_n"] for k in kids)
        acc[s["id"]]["codegen_ms"] = max(0.0, s["codegen_ms"] - sum(
            k["codegen_ms"] for k in kids))
    busy = stats.union(task_intervals)

    loop_ops = checks.timed(result)
    n_ops = len(loop_ops)
    n_setups = len(result["setup_s"])

    def chosen(layer):
        """The layer's spans in the loop if it ran there, else in set-up,
        with the matching divisor."""
        mine = [s for s in spans if s["layer"] == layer]
        loop = [s for s in mine if s["phase"] == "loop"]
        if loop:
            return loop, max(1, n_ops)
        return mine, max(1, n_setups)

    out = {}
    for layer in LAYERS:
        mine, div = chosen(layer)
        wall = stats.union([(s["start"], s["end"]) for s in mine])
        totals = dict(zero)
        for s in mine:
            for k in PER_LAYER:
                totals[k] += acc[s["id"]][k]
        totals["wall_s"] = stats.length(wall) / 1e3
        totals["no_task_s"] = (stats.length(wall)
                               - stats.overlap(wall, busy)) / 1e3
        for k in PER_LAYER:
            out["{}.{}".format(layer, k)] = (totals[k] / div, UNITS[k])

    out["core.session_s"] = (stats.median(result["session_s"]), "s")
    out["core.cached_mb_left"] = (result["cached_mb_left"], "MB")
    out["core.live_heap_mb"] = (result["live_heap_mb"], "MB")

    etl = result.get("etl", {})
    ingest, div = chosen("ingest")
    files = sum(scan_files.get(s["id"], 0) for s in ingest) / div
    out["ingest.files"] = (files, "count")
    out["ingest.rows_per_file"] = (
        etl.get("log_rows", 0) / files if files else 0.0, "ratio")

    derive, div = chosen("derive")
    for m in MARTS:
        wall = sum(s["end"] - s["start"] for s in derive
                   if s["name"] == "derive." + m)
        out["derive.{}.wall_s".format(m)] = (wall / 1e3 / div, "s")

    out["export.docs"] = (etl.get("export_advisory_docs", 0)
                          + etl.get("export_package_docs", 0), "count")
    out["export.mb_written"] = (etl.get("export_bytes", 0) / MB, "MB")

    serve_spans = [s for s in spans
                   if s["layer"] == "serve" and s["phase"] == "loop"]
    for kind in KINDS:
        out["serve.{}.p50_ms".format(kind)] = (stats.median(
            [s["end"] - s["start"] for s in serve_spans
             if s["name"] == "serve." + kind]), "ms")
    returned = sum(o["rows"] for o in loop_ops) if serve_spans else 0
    read = sum(scan_rows.get(s["id"], 0) for s in serve_spans)
    out["serve.rows_read_per_row"] = (read / returned if returned else 0.0,
                                      "ratio")

    state = result.get("state", {})
    batches = [s for s in spans
               if s["name"] == "streaming.batch" and s["phase"] == "loop"]
    out["streaming.state_files"] = (state.get("state_files", 0), "count")
    out["streaming.state_mb"] = (state.get("state_bytes", 0) / MB, "MB")
    out["streaming.jobs_per_batch"] = (
        sum(acc[s["id"]]["jobs"] for s in batches) / len(batches)
        if batches else 0.0, "count")
    growth = stats.growth([o["ms"] for o in loop_ops]) if batches else None
    out["streaming.batch_growth"] = (growth or 0.0, "ratio")
    samples = tr["samples"]
    out["streaming.state_files_per_batch"] = (
        (samples[-1]["state_files"] - samples[0]["state_files"])
        / (len(samples) - 1) if len(samples) > 1 else 0.0, "count")

    root = by_id[0]
    out["root.wall_s"] = ((root["end"] - root["start"]) / 1e3, "s")
    out["root.self_s"] = (root["self"] / 1e3, "s")
    out["root.ops"] = (n_ops, "count")
    out["trace.op_p50_ms"] = (stats.mix_median(
        [o["kind"] for o in loop_ops], [o["ms"] for o in loop_ops]), "ms")

    trace = {
        "workload": workload,
        "spans": [{k: s[k] for k in ("id", "name", "parent", "op", "start",
                                     "end", "self", "layer", "phase")}
                  for s in spans],
        "self_s_by_layer": self_by_layer(spans),
        "state_files_by_batch": [(x["batch"], x["state_files"])
                                 for x in samples],
    }
    return out, trace


def self_by_layer(spans):
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["self"] / 1e3
    return out
