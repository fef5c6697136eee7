"""Metrics of one run, computed from the result file the benchmark JVM
writes: its pass walls, its end state and one row per timed call (the
traced run's rows carry the Spark work of the call's job group too).

End-to-end metrics come from untraced runs, the per-layer ledger from the
traced run. Layers are the program's modules; a call's layer is the module
of the entry point it calls. Amounts are per measured pass (totals divided
by the number of passes); a layer the workload never calls reads 0.
"""
import stats


def _median0(xs):
    return stats.median(xs) if xs else 0.0


def end_to_end(jvms):
    """Over the results of a run's JVMs: setup_s, JVM start to the first
    timed call, and cold_s, the first pass, are medians of the JVMs'
    figures; warm_s is each call's median over the warm passes of every
    JVM, summed, so one stalled (or unusually fast) call in one pass does
    not move it."""
    warm = {}
    for c in (c for r in jvms for c in r["calls"] if c["pass"] > 1 and c["ok"]):
        warm.setdefault(c["name"], []).append(c["wall_s"])
    return {"setup_s": stats.median([r["setup_s"] for r in jvms]),
            "cold_s": stats.median([r["pass_walls"][0] for r in jvms]),
            "warm_s": sum(stats.median(v) for v in warm.values())}


def per_layer(res):
    calls = res["calls"]
    passes = len(res["pass_walls"])
    threads = res["threads"]
    end = res["end_state"]
    timed = [c for c in calls if c["pass"] > 0 and c["ok"]]
    setup = [c for c in calls if c["id"] in set(res["setup_calls"])]

    def in_layer(layer):
        return [c for c in timed if c["layer"] == layer]

    def named(n, cs=timed):
        return [c for c in cs if c["name"] == n]

    def total(cs, key):
        return sum(c[key] for c in cs)

    def per_pass(x):
        return x / passes

    def med_wall(cs):
        return _median0([c["wall_s"] for c in cs])

    def util(cs):
        w = total(cs, "wall_s")
        return total(cs, "task_s") / (w * threads) if w else 0.0

    def bigclam_in(p):
        return total([c for c in in_layer("bigclam") if c["pass"] == p], "wall_s")

    ops, text, vector, graph = (in_layer(x) for x in ("ops", "text", "vector", "graph"))
    # chained single-iteration fit calls, made after timing in traced runs
    iters = [c for c in calls if c["ok"] and c["name"].startswith("fitSparse.iter")]

    def iter_mean(key):
        return total(iters, key) / len(iters) if iters else 0.0

    params = res["params"]
    llh = params.get("llh")
    return {
        "session.start_s": res["session_start_s"],
        "session.warmup_s": total(setup, "wall_s"),
        "session.gc_s": per_pass(res["gc_s"]),
        "session.heap_mb_end": end["heap_mb_end"],
        "session.task_failures": total(timed, "task_failures"),
        "Tables.input_mb": per_pass(total(timed, "input_mb")),
        "Tables.input_rows": per_pass(total(timed, "input_rows")),
        "ops.wall_s": per_pass(total(ops, "wall_s")),
        "ops.planning_ms_p50": _median0([p for c in ops for p in c["planning_ms"]]),
        "ops.jobs_per_query": total(ops, "jobs") / len(ops) if ops else 0.0,
        "ops.task_s": per_pass(total(ops, "task_s")),
        "text.wall_s": per_pass(total(text, "wall_s")),
        "text.task_s": per_pass(total(text, "task_s")),
        "text.cpu_util": util(text),
        "text.shuffle_write_mb": per_pass(total(text, "shuffle_write_mb")),
        "text.spill_mb": per_pass(total(text, "spill_mb")),
        "vector.wall_s": per_pass(total(vector, "wall_s")),
        "vector.cpu_util": util(vector),
        "vector.max_task_share": max([c["max_task_s"] / c["wall_s"] for c in vector] + [0.0]),
        "graph.symedges_s": med_wall(named("symEdges", setup)),
        "graph.seedrank_s": med_wall(named("seedRank")),
        "graph.cc_s": med_wall(named("connectedComponents")),
        "graph.pagerank_s": med_wall(named("pageRank")),
        "graph.pagerank_shuffle_mb": _median0([c["shuffle_write_mb"] for c in named("pageRank")]),
        "graph.assortativity_s": med_wall(named("assortativity")),
        "graph.jobs": per_pass(total(graph, "jobs")),
        "bigclam.init_s": med_wall(named("initSparse")),
        "bigclam.fit_s": med_wall(named("fitSparse")),
        "bigclam.llh_s": med_wall(named("llhSparse")),
        "bigclam.iter_s": med_wall(iters),
        "bigclam.iter_jobs": iter_mean("jobs"),
        "bigclam.iter_stages": iter_mean("stages"),
        "bigclam.iter_task_s": iter_mean("task_s"),
        "bigclam.iter_shuffle_mb": iter_mean("shuffle_write_mb"),
        "bigclam.iter_drift": iters[-1]["wall_s"] / iters[0]["wall_s"] if iters else 0.0,
        "bigclam.nll_per_edge": -llh / max(1, params["edge_rows"]) if llh is not None else 0.0,
        "bigclam.sweep_cold_s": bigclam_in(1),
        "bigclam.sweep_warm_s": _median0([bigclam_in(p) for p in range(2, passes + 1)]),
        "graftbridge.live_rdds_end": end["live_rdds_end"],
        "graftbridge.storage_mb_end": end["storage_mb_end"],
        "graftbridge.local_dir_mb_end": end["local_dir_mb_end"],
        "multimodal.wall_s": per_pass(total(in_layer("multimodal"), "wall_s")),
        # median traced warm pass against the one untraced warm pass
        "trace.overhead_frac": stats.median(res["pass_walls"][1:]) / res["untraced_warm_s"] - 1.0,
        "trace.spans": len(calls),
    }


def print_ledger(res, metrics):
    """Per-layer metrics, then the costliest spans of the trace."""
    print("per-layer ledger (amounts per measured pass):")
    for name, m in metrics.items():
        print(f"  {name:<30} {m['value']:14.4f} {m['unit']}")
    calls = sorted((c for c in res["calls"] if c["pass"] > 0), key=lambda c: -c["wall_s"])
    print("costliest spans: wall_s jobs stages task_s shuffle_write_mb name [layer] pass")
    for c in calls[:15]:
        print(f"  {c['wall_s']:8.3f} {c.get('jobs', 0):5d} {c.get('stages', 0):5d} "
              f"{c.get('task_s', 0):8.2f} {c.get('shuffle_write_mb', 0):9.2f} "
              f"{c['name']} [{c['layer']}] {c['pass']}")
