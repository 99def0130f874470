"""Turn one driver result (result.json) into metrics.

End-to-end metrics come from the timed ops alone. Per-layer metrics come
from the traced run's span tree: the benchmark's own spans around each
call into the library (op -> layer call), plus Spark jobs, stages and
planning phases from the listeners, each hung under the innermost
benchmark span that was open when it started.
"""
import stats

# rank of a span kind: an instant of an op goes to the highest-ranked span
# active at it, so stage time is always exec time
RANK = {"op": 0, "sources": 1, "operators": 1, "action": 1, "plan": 2,
        "job": 3, "stage": 4}
SLACK_US = 1000  # Spark's listener times have millisecond resolution


def e2e(result, launch_us):
    """The universal end-to-end metrics plus the workload's own ones."""
    ops = result["ops"]
    walls = [(o["t1"] - o["t0"]) / 1000.0 for o in ops]
    by_name = {}
    for o, w in zip(ops, walls):
        by_name.setdefault(o["name"], []).append(w)
    m = {
        "setup_s": (result["setup_end_us"] - launch_us) / 1e6,
        "peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
        "op_geomean_ms": stats.geomean(
            [stats.median(v) for v in by_name.values()]),
        "ops_per_s": len(walls) / (sum(walls) / 1000.0),
    }
    extra = {"failed_frac": {"value": stats.failed_frac(ops),
                             "unit": "ratio", "n": len(ops)},
             "op_p50_ms": {"value": stats.median(walls), "unit": "ms",
                           "n": len(ops)},
             "setup_phases_s": result["setup_phases"]}
    if result["workload"] == "soql_client":
        for label, kinds in (("read", ("list", "dataFor", "fetchPages")),
                             ("write", ("write",))):
            xs = [w for o, w in zip(ops, walls) if o["kind"] in kinds]
            extra[f"{label}_p50_ms"] = {"value": stats.median(xs),
                                        "unit": "ms", "n": len(xs)}
            t = stats.tail(xs)
            extra[f"{label}_tail_ms"] = {
                "value": t and t[0], "unit": "ms",
                "percentile": t and round(t[1], 1), "n": len(xs)}
        extra["ops_per_s"] = {"value": m["ops_per_s"], "unit": "1/s",
                              "n": len(ops)}
    else:
        passes = {}
        for o, w in zip(ops, walls):
            passes.setdefault(o["pass"], []).append(w)
        full = [sum(v) / 1000.0 for v in passes.values()
                if len(v) == len(by_name)]
        extra["pass_s"] = {"value": stats.median(full), "unit": "s",
                           "n": len(full)}
        extra["query_geomean_ms"] = {"value": m["op_geomean_ms"],
                                     "unit": "ms", "n": len(ops)}
        extra["query_median_ms"] = {
            "value": {k: stats.median(v) for k, v in sorted(by_name.items())},
            "unit": "ms"}
    return m, extra


def _spark_nodes(spark):
    """Jobs, stages (with their job) and planning phases as raw nodes."""
    nodes = []
    for j in spark["jobs"]:
        nodes.append({"id": f"j{j['job']}", "layer": "job",
                      "name": f"job {j['job']}", "t0": j["t0"], "t1": j["t1"],
                      "stages": set(j["stages"])})
    for s in spark["stages"]:
        nodes.append(dict(s, id=f"s{s['stage']}.{s['attempt']}",
                          layer="stage", name=f"stage {s['stage']}"))
    for i, p in enumerate(spark["phases"]):
        nodes.append({"id": f"p{i}", "layer": "plan",
                      "name": f"plan.{p['phase']}", "phase": p["phase"],
                      "t0": p["t0"], "t1": p["t1"]})
    return nodes


def op_trees(result):
    """One span tree per timed op: {op, nodes}, every node clipped to its
    parent and carrying its self time."""
    spans = result["spark"]["spans"]
    spark_nodes = _spark_nodes(result["spark"])
    trees = []
    for op in result["ops"]:
        lo, hi = op["t0"], op["t1"]
        mine = [s for s in spans if s["t0"] >= lo and s["t1"] <= hi]
        nodes = {}
        for s in mine:
            nodes[f"b{s['id']}"] = {
                "id": f"b{s['id']}", "layer": s["layer"],
                "name": s["name"], "t0": s["t0"], "t1": s["t1"],
                "parent": f"b{s['parent']}" if s["parent"] else None}
        if not nodes:
            continue
        root = next(n for n in nodes.values() if n["layer"] == "op")
        root.update(t0=lo, t1=hi, parent=None)
        for n in nodes.values():
            if n["parent"] not in nodes and n is not root:
                n["parent"] = root["id"]
        _depths(nodes)
        bench = {k: {"t0": v["t0"], "t1": v["t1"], "depth": v["depth"]}
                 for k, v in nodes.items()}
        inside = [n for n in spark_nodes
                  if lo - SLACK_US <= n["t0"] <= hi and n["layer"] != "stage"]
        for n in inside:
            n = dict(n, parent=stats.innermost(bench, n["t0"], SLACK_US))
            nodes[n["id"]] = n
        jobs = [n for n in nodes.values() if n["layer"] == "job"]
        for s in spark_nodes:
            if s["layer"] != "stage" or not (lo - SLACK_US <= s["t0"] <= hi):
                continue
            owner = [j for j in jobs if s["stage"] in j["stages"]]
            if owner:
                nodes[s["id"]] = dict(s, parent=owner[-1]["id"])
        _depths(nodes)
        _clip(nodes, root)
        ranked = {k: {"t0": v["t0"], "t1": v["t1"],
                      "depth": (RANK[v["layer"]], v["depth"])}
                  for k, v in nodes.items()}
        own = stats.self_times((lo, hi), ranked)
        for k, v in nodes.items():
            v["self"] = own.get(k, 0)
        trees.append({"op": op, "nodes": nodes})
    return trees


def _depths(nodes):
    def depth(n):
        d = 0
        while n.get("parent"):
            n = nodes[n["parent"]]
            d += 1
        return d
    for n in nodes.values():
        n["depth"] = depth(n)


def _clip(nodes, root):
    for n in sorted(nodes.values(), key=lambda n: n["depth"]):
        if n is root:
            continue
        p = nodes[n["parent"]]
        n["t0"], n["t1"] = stats.clip((n["t0"], n["t1"]), p["t0"], p["t1"])
        if n["t1"] < n["t0"]:
            n["t1"] = n["t0"]


def layers(result, cores):
    """Per-layer metrics of a traced run, plus the breakdown behind them."""
    trees = op_trees(result)
    n = len(trees)
    if n == 0:
        return {}, {"identity_max_err_us": None, "trees": []}
    tot = {}
    per_q = {}
    self_by_layer = {}
    walls = 0
    max_err = 0

    def add(k, v):
        tot[k] = tot.get(k, 0) + v

    for t in trees:
        op, nodes = t["op"], t["nodes"]
        wall = op["t1"] - op["t0"]
        walls += wall
        stages = [v for v in nodes.values() if v["layer"] == "stage"]
        gap = stats.driver_gap(wall, [(s["t0"], s["t1"]) for s in stages])
        non_stage = sum(v["self"] for v in nodes.values()
                        if v["layer"] != "stage")
        max_err = max(max_err, abs(gap - non_stage),
                      abs(sum(v["self"] for v in nodes.values()) - wall))
        add("exec.driver_gap_ms", gap / 1000.0)
        for v in nodes.values():
            self_by_layer[v["layer"]] = self_by_layer.get(v["layer"], 0) \
                + v["self"] / 1000.0
            dur = (v["t1"] - v["t0"]) / 1000.0
            if v["layer"] in ("sources", "operators"):
                add("build_ms", dur)
                if v["name"] == "sources.refreshCache":
                    add("sources.refresh_ms", dur)
                elif v["layer"] == "sources":
                    add("sources.dataFor_ms", dur)
                else:
                    per_q.setdefault(op["name"], {}).setdefault(
                        "build", []).append(dur)
            elif v["layer"] == "action":
                add("action_ms", dur)
                if op["kind"] == "query":
                    per_q.setdefault(op["name"], {}).setdefault(
                        "action", []).append(dur)
            elif v["layer"] == "plan":
                add(f"plan.{v['phase']}_ms", dur)
            elif v["layer"] == "job":
                add("exec.jobs", 1)
            elif v["layer"] == "stage":
                add("exec.task_ms", v["task_ms"])
                add("exec.cpu_ms", v["cpu_ms"])
                add("exec.shuffle_read_bytes", v["shuffle_read_bytes"])
                add("exec.shuffle_write_bytes", v["shuffle_write_bytes"])
                add("exec.spill_bytes", v["spill_bytes"])
                if v["tasks"] == 1:
                    add("exec.single_task_stage_ms", dur)
    sweeps = result["sweeps"]
    writes = [t["op"] for t in trees if t["op"]["kind"] == "write"]
    delta_rows = sum(o.get("delta_rows", 0) for o in writes)
    m = {k: tot.get(k, 0) / n for k in (
        "build_ms", "action_ms", "plan.analysis_ms", "plan.optimization_ms",
        "plan.planning_ms", "exec.jobs", "exec.driver_gap_ms", "exec.task_ms",
        "exec.cpu_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
        "exec.spill_bytes", "exec.single_task_stage_ms")}
    m["exec.core_util"] = tot.get("exec.task_ms", 0) / (walls / 1000.0 * cores)
    m["functions.sweep_ms"] = stats.median(
        [(s["t1"] - s["t0"]) / 1000.0 for s in sweeps]) or 0.0
    m["functions.pinned_bytes"] = sum(s["pinned_bytes"] for s in sweeps) \
        / max(1, len(sweeps))
    m["functions.textcache_bytes"] = max(
        [s["textcache_bytes"] for s in sweeps] or [0])
    m["jvm.gc_ms"] = result["gc_ms_timed"] / n
    m["jvm.heap_used_mb"] = result["peak_heap_mb"]
    m["sources.bytes_written_per_delta_row"] = (
        sum(o.get("cache_bytes", 0) for o in writes) / delta_rows
        if delta_rows else 0.0)
    reads = sum(1 for t in trees if t["op"]["kind"] not in ("write", "query"))
    detail = {
        "sources.dataFor_ms": tot.get("sources.dataFor_ms", 0) / reads
        if reads else None,
        "sources.refresh_ms": tot.get("sources.refresh_ms", 0) / len(writes)
        if writes else None,
        "operators.build_ms": {q: stats.median(v["build"])
                               for q, v in sorted(per_q.items())
                               if "build" in v},
        "operators.action_ms": {q: stats.median(v["action"])
                                for q, v in sorted(per_q.items())
                                if "action" in v},
        "self_ms_per_op": {k: v / n for k, v in sorted(self_by_layer.items())},
        "identity_max_err_us": max_err,
        "ops": n,
    }
    return m, detail
