"""Workload plans, metric catalog and result assembly of perfbench.

Every per-layer metric names the end-to-end metrics it should move and the
workloads it moves them on (`moves`); host metrics are diagnostics and move
nothing. `perfbench/test_perfbench.py` checks this catalog against
BENCHMARK.json.
"""
import json
import os
import statistics

WORKLOADS = {
    "etl_batches": {
        "why": "dirty 15k-row CSV batches loaded into one growing parquet warehouse, "
               "with the SQL library read back between loads; overhead-bound",
        "sql_file": "fixtures/star_queries.sql",
    },
    "corpus_ingest": {
        "why": "document batches through decontaminate, index dedup and curation into "
               "versioned indexes, with searches between; the llm and functions layers",
    },
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "live_heap_mb": ("MB", "lower", 0.25),
    "store_mb": ("MB", "lower", 0.1),
}

ETL, CORPUS = "etl_batches", "corpus_ingest"
ALL = (ETL, CORPUS)


def _busy(layer, names, moves):
    return {"%s.%s.busy_s" % (layer, n): ("s", "lower", moves) for n in names}


# name -> (unit, better, [(end-to-end metric, workload), ...])
PER_LAYER = {}
PER_LAYER.update(_busy("etl", ["extract", "build_star"], [("op_p50_s", ETL)]))
PER_LAYER["etl.valid_frac"] = ("ratio", "higher", [("wall_s", ETL)])
PER_LAYER.update(_busy("warehouse", ["append", "publish", "delete", "compact", "vacuum"],
                       [("wall_s", ETL), ("store_mb", ETL)]))
PER_LAYER["warehouse.files"] = ("count", "lower", [("wall_s", ETL), ("store_mb", ETL)])
PER_LAYER["warehouse.versions"] = ("count", "lower", [("wall_s", ETL), ("store_mb", ETL)])
PER_LAYER["warehouse.write_amp"] = ("ratio", "lower", [("wall_s", ETL), ("store_mb", ETL)])
PER_LAYER.update(_busy("warehouse", ["read"], [("wall_s", ETL)]))
PER_LAYER.update(_busy("queries", ["sql_file"], [("wall_s", ETL)]))
PER_LAYER.update(_busy("llm", ["decontaminate", "dedup_index", "curate"],
                       [("op_p50_s", CORPUS)]))
PER_LAYER.update(_busy("llm", ["index_append", "index_compact", "search"],
                       [("store_mb", CORPUS), ("wall_s", CORPUS)]))
PER_LAYER["llm.index.files"] = ("count", "lower", [("store_mb", CORPUS), ("wall_s", CORPUS)])
PER_LAYER["llm.index.versions"] = ("count", "lower", [("store_mb", CORPUS), ("wall_s", CORPUS)])
PER_LAYER["llm.kept_frac"] = ("ratio", "higher", [("op_p50_s", CORPUS)])
PER_LAYER["llm.dedup_drop_frac"] = ("ratio", "higher", [("op_p50_s", CORPUS)])
for _n in ("jobs", "stages", "tasks"):
    PER_LAYER["spark." + _n] = ("count", "lower", [("op_p50_s", ETL)])
PER_LAYER["spark.plan_s"] = ("s", "lower", [("op_p50_s", ETL)])
PER_LAYER["spark.driver_only_s"] = ("s", "lower", [("op_p50_s", ETL)])
for _n, _u in (("task_run_s", "s"), ("task_cpu_s", "s"), ("sched_wait_s", "s"),
               ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
               ("input_mb", "MB"), ("output_mb", "MB"), ("failed_tasks", "count")):
    PER_LAYER["spark." + _n] = (_u, "lower", [("op_p50_s", ETL), ("op_p50_s", CORPUS),
                                              ("wall_s", CORPUS)])
PER_LAYER["jvm.gc_pause_s"] = ("s", "lower", [("live_heap_mb", w) for w in ALL])
PER_LAYER["jvm.gc_count"] = ("count", "lower", [("live_heap_mb", w) for w in ALL])
PER_LAYER["jvm.peak_live_heap_mb"] = ("MB", "lower", [("live_heap_mb", w) for w in ALL])
PER_LAYER["jvm.jit_compile_s"] = ("s", "lower", [(m, w) for w in ALL
                                                 for m in ("setup_s", "op_p50_s")])
PER_LAYER["host.cpu_pressure_pct"] = ("%", "lower", [])
PER_LAYER["host.steal_pct"] = ("%", "lower", [])
PER_LAYER["host.calib_s"] = ("s", "lower", [])
DIAGNOSTIC = {"host.cpu_pressure_pct", "host.steal_pct", "host.calib_s"}

# Counts that must repeat exactly between two runs at the same seed, and why
# the ones that may not, do not.
COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_mb",
          "spark.shuffle_read_mb", "warehouse.files", "llm.index.files"]
_AQE_NOTE = ("etl_batches' build_star runs 51 or 52 jobs at one seed, with ~0.6 MB more or "
             "less shuffle; this fits adaptive execution re-planning a join when the first "
             "of its shuffle stages finishes, which depends on timing")
_SHUFFLE_NOTE = (_AQE_NOTE + "; also, shuffle blocks are compressed and rows reach a shuffle "
                 "in file order, and parquet file names carry random UUIDs, so the compressed "
                 "size can move by a few hundred bytes between runs")
COUNT_NOTES = {"spark.jobs": _AQE_NOTE, "spark.stages": _AQE_NOTE, "spark.tasks": _AQE_NOTE,
               "spark.shuffle_write_mb": _SHUFFLE_NOTE, "spark.shuffle_read_mb": _SHUFFLE_NOTE}

# ------------------------------------------------------------------ plans

def op_plan(workload, seconds):
    """The fixed op sequence of a run: `seconds` sets how many ops it
    measures, at the nominal rate of a 4-cpu host. etl_batches runs whole
    8-op cycles (`gen.ETL_CYCLE`), so its last op is a query."""
    if workload == ETL:
        return {"warmup_ops": 3, "ops": 8 * max(1, round((seconds / 3 + 3) / 8)) - 3}
    return {"warmup_ops": 2, "ops": max(4, round(seconds / 3.75))}


# ------------------------------------------------------------- assembly


def warmup_trend(ops):
    """Is the median of the first third of primary-op latencies inside the
    range (min to max) of the last third?"""
    series = [o["dur_s"] for o in ops if o["primary"]]
    n = max(1, len(series) // 3)
    first, last = series[:n], series[-n:]
    m = statistics.median(first)
    return {"first_third_median": m, "last_third_min": min(last),
            "last_third_max": max(last), "ok": min(last) <= m <= max(last)}


def _layer_metrics(res, exp, data_dir_bytes):
    busy = res.get("busy_s", {})
    spark = res.get("spark", {})
    cnt, c0 = res["counters"], res.get("counters_start", {})
    jvm, host = res["jvm"], res["host"]

    def delta(k):
        return cnt.get(k, 0) - c0.get(k, 0)

    m = {}
    for name in PER_LAYER:
        layer = name.rsplit(".", 1)[0]
        if name.endswith(".busy_s"):
            m[name] = busy.get(layer, 0.0)
    m["etl.valid_frac"] = (delta("etl.valid_rows") / exp["measured_input_rows"]
                           if exp.get("measured_input_rows") else 0.0)
    m["warehouse.files"] = cnt.get("warehouse.files", 0)
    m["warehouse.versions"] = cnt.get("warehouse.versions", 0)
    wh_out = sum(v["output_mb"] for k, v in res.get("spark_by_layer", {}).items()
                 if k.startswith("warehouse."))
    m["warehouse.write_amp"] = (wh_out * 1048576.0 / data_dir_bytes) if data_dir_bytes else 0.0
    m["llm.index.files"] = cnt.get("llm.index.files", 0)
    m["llm.index.versions"] = cnt.get("llm.index.versions", 0)
    docs = delta("llm.docs_in")
    m["llm.kept_frac"] = delta("llm.kept") / docs if docs else 0.0
    dec = delta("llm.after_decontaminate")
    m["llm.dedup_drop_frac"] = (dec - delta("llm.after_dedup")) / dec if dec else 0.0
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "sched_wait_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "output_mb",
              "failed_tasks"):
        m["spark." + k] = spark.get(k, 0)
    m["spark.plan_s"] = res.get("plan_s", 0.0)
    m["spark.driver_only_s"] = res.get("driver_only_s", 0.0)
    for k in ("gc_pause_s", "gc_count", "peak_live_heap_mb", "jit_compile_s"):
        m["jvm." + k] = jvm[k]
    m["host.cpu_pressure_pct"] = host["cpu_pressure_pct"] if host["cpu_pressure_pct"] is not None else 0.0
    m["host.steal_pct"] = host["steal_pct"] if host["steal_pct"] is not None else 0.0
    m["host.calib_s"] = host["calib_s"]
    return m


def _input_bytes(workload, exp, data_dir, warmup_ops):
    if workload != ETL:
        return 0
    return sum(os.path.getsize(os.path.join(data_dir, b["file"]))
               for b in exp["batches"] if b["op"] >= warmup_ops)


def artifact(args, plan, res, exp, launch, failures, data_dir):
    ops = res["ops"]
    prim = [o["dur_s"] for o in ops if o["primary"]]
    wall = (res["phase_end_ms"] - res["phase_start_ms"]) / 1000.0
    e2e = {
        "setup_s": res["phase_start_ms"] / 1000.0 - launch,
        "wall_s": wall,
        "op_p50_s": statistics.median(prim),
        "live_heap_mb": res["live_heap_mb"],
        "store_mb": res["store_bytes"] / 1048576.0,
    }
    failed_ops = sum(1 for o in ops if o["error"])
    attempted = len(ops)
    failed = min(attempted, failed_ops + len(failures))
    if args.trace:
        layer = _layer_metrics(res, exp, _input_bytes(args.workload, exp, data_dir,
                                                       plan["warmup_ops"]))
        shown = {k: {"value": layer[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        layer = None
        shown = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    return {
        "result": {"correct": not failures and failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": shown},
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "plan": plan, "end_to_end": e2e, "per_layer": layer,
        "failed_frac": failed / attempted, "check_failures": failures,
        "input_rows": exp.get("measured_input_rows") or exp.get("measured_input_docs"),
        "primary_ops": len(prim),
        "setup_breakdown_s": {
            "session": res["session_ready_ms"] / 1000.0 - launch,
            "state": (res["state_ready_ms"] - res["session_ready_ms"]) / 1000.0,
            "warmup": (res["phase_start_ms"] - res["state_ready_ms"]) / 1000.0},
        "op_series": [{"i": o["i"], "kind": o["kind"], "dur_s": o["dur_s"]} for o in ops],
        "warmup_series": [{"i": o["i"], "kind": o["kind"], "dur_s": o["dur_s"]}
                          for o in res["warmup"]],
        "warmup_trend": warmup_trend(ops),
        "jvm": res["jvm"], "host": res["host"],
        "spark_by_layer": res.get("spark_by_layer"),
        "spans": res.get("spans"),
    }


def tracing_overhead(art, untraced_path):
    """Traced vs untraced wall_s at the same workload and seed, when the
    untraced artifact exists."""
    if not os.path.exists(untraced_path):
        return {"note": "no untraced run at this seed to compare with"}
    with open(untraced_path) as f:
        base = json.load(f)
    w0, w1 = base["end_to_end"]["wall_s"], art["end_to_end"]["wall_s"]
    return {"untraced_wall_s": w0, "traced_wall_s": w1, "overhead_pct": 100.0 * (w1 / w0 - 1)}


def count_repeat(art, art_dir):
    """Which exact counts repeat against the previous runs at this workload
    and seed: `store_mb` against the previous run of either trace mode, the
    per-layer counts against the previous traced run."""
    out = {}
    for trace in (0, 1):
        path = os.path.join(art_dir, "%s-s%d-t%d.json" % (art["workload"], art["seed"], trace))
        if not os.path.exists(path):
            continue
        with open(path) as f:
            prev = json.load(f)
        pairs = [("store_mb", prev["end_to_end"]["store_mb"], art["end_to_end"]["store_mb"])]
        if trace and art["per_layer"] is not None:
            pairs += [(k, (prev.get("per_layer") or {}).get(k), art["per_layer"][k])
                      for k in COUNTS]
        for k, was, now in pairs:
            r = {"prev": was, "now": now, "equal": was == now}
            if not r["equal"] and k in COUNT_NOTES:
                r["why"] = COUNT_NOTES[k]
            out["%s vs t%d" % (k, trace)] = r
    return out or None
