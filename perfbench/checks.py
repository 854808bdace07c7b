"""Output checks of a perfbench run, untimed, after the measured phase.

`check(workload, result, expected)` returns a list of failure
messages; each failure counts as one failed op.
"""
import math
import os


def _eq(fails, what, got, want):
    if got != want:
        fails.append("%s: got %r, expected %r" % (what, got, want))


def _op_errors(res):
    return ["op %d (%s) raised %s" % (o["i"], o["kind"], o["error"])
            for o in res["warmup"] + res["ops"] if o["error"]]


def check_etl(res, exp):
    fails = []
    obs, cnt = res["observe"], res["counters"]
    _eq(fails, "fact rows", obs.get("fact_rows"), exp["fact_rows"])
    _eq(fails, "fact distinct ids", obs.get("fact_ids"), exp["fact_rows"])
    _eq(fails, "fact amount cents", obs.get("fact_cents"), exp["fact_cents"])
    if not obs.get("preflight_ok"):
        fails.append("preFlight: %s" % obs.get("preflight_problems"))
    _eq(fails, "published star row counts", obs.get("star"), exp["star"])
    commits = sum({"load_batch": 1, "maintenance": 2}.get(k, 0) for k in exp["plan"])
    _eq(fails, "current snapshot version", obs.get("current_version"), "v%d" % commits)
    _eq(fails, "valid rows over all batches", cnt.get("etl.valid_rows"),
        sum(b["valid"] for b in exp["batches"]))
    _eq(fails, "rows appended over all batches", cnt.get("etl.new_rows"),
        sum(b["new"] for b in exp["batches"]))
    return fails + check_sql(obs)


def check_corpus(res, exp):
    fails = []
    obs, cnt = res["observe"], res["counters"]
    _eq(fails, "indexed documents", obs.get("indexed_docs"), exp["indexed_docs"])
    _eq(fails, "indexed document set digest", obs.get("indexed_digest"), exp["indexed_digest"])
    if obs.get("search_stable") is not True:
        fails.append("the last search differs when rerun on the same index")
    stray = set(obs.get("search_ids", [])) - set(exp["indexed_ids"])
    if stray:
        fails.append("search returned %d documents that should not be indexed" % len(stray))
    if not res["trace"]:
        return fails  # per-stage counts are gathered by traced runs only
    p = exp["planted"]
    docs = sum(b["docs"] for b in exp["batches"])
    _eq(fails, "documents ingested", cnt.get("llm.docs_in"), docs)
    _eq(fails, "documents after decontaminate", cnt.get("llm.after_decontaminate"),
        docs - p["contaminated"])
    _eq(fails, "documents after dedup against index", cnt.get("llm.after_dedup"),
        docs - p["contaminated"] - p["exact_dup"] - p["near_dup_index"])
    _eq(fails, "documents kept by curation", cnt.get("llm.kept"),
        sum(b["kept"] for b in exp["batches"]))
    return fails


# ------------------------------------------------ SQL library vs DuckDB


def _cell_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if a is None or b is None:
        return a is b
    if type(a) is not type(b):
        try:
            fa, fb = float(a), float(b)
            return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
        except (TypeError, ValueError):
            return str(a) == str(b)
    return a == b


def _sort_key(row):
    return [(v is None, "" if v is None else (v if isinstance(v, (int, float)) else str(v)))
            for v in row]


def _rows(df):
    cols = sorted(df.columns)
    return cols, sorted(df[cols].astype(object).where(df[cols].notna(), None)
                        .values.tolist(), key=_sort_key)


def frame_diff(oracle, spark):
    """None when the two result frames hold the same rows, else why not."""
    oc, o = _rows(oracle)
    sc, s = _rows(spark)
    if oc != sc:
        return "columns differ: oracle=%s spark=%s" % (oc, sc)
    if len(o) != len(s):
        return "row counts differ: oracle=%d spark=%d" % (len(o), len(s))
    for i, (ro, rs) in enumerate(zip(o, s)):
        for j, (a, b) in enumerate(zip(ro, rs)):
            if not _cell_eq(a, b):
                return "row %d col %s: oracle=%r spark=%r" % (i, oc[j], a, b)
    return None


def check_sql(obs):
    """The library queries measured on the final snapshot against DuckDB over
    the same parquet files; fails when none ran on that snapshot."""
    import duckdb
    import pandas

    if not obs["sql"]:
        return ["no measured query ran on the final snapshot"]
    fails = []
    root, v = obs["star_root"], obs["current_version"]
    con = duckdb.connect()
    for name in os.listdir(os.path.join(root, v)):
        table = name[:-len(".base")] if name.endswith(".base") else name
        if table.startswith(".") or table.startswith("_") or table.endswith(".deletes"):
            continue
        base = v
        if name.endswith(".base"):
            with open(os.path.join(root, v, name)) as f:
                base = f.read().strip()
        src = "'%s/%s/%s/*.parquet'" % (root, base, table)
        if os.path.isdir(os.path.join(root, v, table + ".deletes")):
            src = ("(SELECT * FROM %s WHERE transaction_id NOT IN "
                   "(SELECT transaction_id FROM '%s/%s/%s.deletes/*.parquet'))"
                   % (src, root, v, table))
        con.execute("CREATE VIEW %s AS SELECT * FROM %s" % (table, src))
    for q, r in sorted(obs["sql"].items()):
        try:
            diff = frame_diff(con.execute(r["sql"]).fetchdf(),
                              pandas.DataFrame(r["rows"], columns=r["columns"]))
        except Exception as e:  # a failing oracle is a failed check, not a crash
            diff = "oracle error: %s" % e
        if diff:
            fails.append("%s: %s" % (q, diff))
    return fails


def check(workload, res, exp):
    if "error" in res["observe"]:
        return ["observation failed: %s" % res["observe"]["error"]] + _op_errors(res)
    fn = {"etl_batches": check_etl, "corpus_ingest": check_corpus}[workload]
    return _op_errors(res) + fn(res, exp)
