#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Runs as its own step, outside the measured JVM:

    python3 perfbench/gen.py --workload etl_batches --seed 1 --out DIR \
        --ops 24 --warmup-ops 4 [--size full|tiny]

Writes the workload's inputs under DIR plus DIR/expected.json, the outcomes
the generator planted (valid-row counts, re-sent ids, planted duplicates and
contamination). The same arguments give byte-identical files; a directory
whose `params.json` already matches is reused as is (the per-seed cache).

The op sequence is written to plan.txt, which the measured JVM follows.
"""
import argparse
import csv
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import sys
from decimal import Decimal, ROUND_HALF_EVEN

GEN_VERSION = 5
DEFAULT_SEED = 1
HELD_OUT_SEED = 9001
# Op kinds repeat in these cycles; warm-up ops are the first of the sequence.
# The etl cycle ends in a query, so a run of whole cycles measures at least one
# query on the final snapshot, which the output check compares with its rerun.
ETL_CYCLE = ["load_batch", "load_batch", "sql", "load_batch", "sql", "load_batch",
             "maintenance", "sql"]
CORPUS_CYCLE = ["ingest_batch", "search", "ingest_batch", "maintenance"]


def op_kinds(cycle, n_ops):
    return [cycle[i % len(cycle)] for i in range(n_ops)]


def write_plan(out, kinds):
    """plan.txt: the op kind of every op, warm-up included, one per line."""
    with open(os.path.join(out, "plan.txt"), "w") as f:
        f.write("\n".join(kinds) + "\n")


# ------------------------------------------------------------ etl_batches

CATS = ["groceries", "dining", "transport", "entertainment",
        "utilities", "healthcare", "shopping", "travel"]
PAYS = ["credit card", "debit card", "cash", "digital wallet"]
MERCH_A = ["acme", "global", "o'brien", "d'angelo-smith", "zebra", "north",
           "blue", "river", "summit", "corner", "harbor", "golden", "maple",
           "union", "prime", "metro", "oak", "silver", "sunny", "city"]
MERCH_B = ["mart", "corp", "& sons", "market", "foods", "supply", "cafe",
           "diner", "outlet", "depot", "store", "2x llc", "bistro", "garage"]
MIN_DATE = dt.date(1995, 1, 1)
MAX_DATE = dt.date(2001, 12, 31)
SPAN_DAYS = (MAX_DATE - MIN_DATE).days


def _case_dirt(r, s):
    x = r.random()
    if x < 0.3:
        s = s.upper()
    elif x < 0.5:
        s = s.title()
    y = r.random()
    if y < 0.2:
        s = "  " + s
    elif y < 0.4:
        s = s + "   "
    return s


def _merchant(r, pool):
    base = pool[r.randrange(len(pool))]
    words = base.split(" ")
    if r.random() < 0.3:  # collapsible internal whitespace
        i = r.randrange(len(words))
        words[i] = words[i] + "  "
    return _case_dirt(r, " ".join(words))


def _std_merchant(s):
    return " ".join(s.split()).title()


def _txn_row(r, pool, txn_no):
    """One dirty row and the reason it is invalid (None when valid)."""
    why = None
    d = MIN_DATE + dt.timedelta(days=r.randrange(SPAN_DAYS + 1))
    date = d.isoformat()
    x = r.random()
    if x < 0.008:
        date, why = "not-a-date", "date"
    elif x < 0.016:
        date, why = "2031-12-31", "date"
    elif x < 0.024:
        date, why = "1989-06-15", "date"
    elif x < 0.2:
        date = " " + date + " "
    cat = CATS[r.randrange(8)]
    if r.random() < 0.008:
        cat, why = "crypto", why or "category"
    cat = _case_dirt(r, cat)
    cents = r.randrange(100, 1000000)
    amount = "%d.%02d" % (cents // 100, cents % 100)
    x = r.random()
    if x < 0.01:
        amount += "5"  # 3 dp: HALF_EVEN to 2 dp
    elif x < 0.018:
        amount, why = "-" + amount, why or "amount"
    elif x < 0.026:
        amount, why = "abc", why or "amount"
    elif x < 0.034:
        amount, why = "", why or "amount"
    elif x < 0.039:
        amount, why = "12000.00", why or "amount"
    merch = _merchant(r, pool)
    if r.random() < 0.005:
        merch, why = "", why or "merchant"
    pay = PAYS[r.randrange(4)]
    if r.random() < 0.008:
        pay, why = "bitcoin", why or "payment"
    pay = _case_dirt(r, pay)
    user = str(r.randrange(1, 20001))
    x = r.random()
    if x < 0.005:
        user, why = "12.5", why or "user"
    elif x < 0.01:
        user, why = "", why or "user"
    elif x < 0.1:
        user = " " + user
    txn = "TXN-%09d" % txn_no
    notes = "ok" if why is None else "bad " + why
    return [txn, date, cat, amount, merch, pay, user, notes], why


def _amount_cents(s):
    q = Decimal(s.strip()).quantize(Decimal("0.01"), rounding=ROUND_HALF_EVEN)
    return int(q * 100)


def _valid_view(row):
    """(txn_id, cents, category, payment, merchant, user, date) of a valid row."""
    return (row[0], _amount_cents(row[3]), row[2].strip().title(),
            row[5].strip().title(), _std_merchant(row[4]), int(row[6].strip()),
            row[1].strip())


def gen_etl(seed, out, n_ops, warm_ops, rows):
    r = random.Random(f"etl-{seed}")
    pool = sorted({"%s %s no. %d" % (a, b, k) if k else "%s %s" % (a, b)
                   for a in MERCH_A for b in MERCH_B for k in range(0, 18)})
    plan = op_kinds(ETL_CYCLE, warm_ops + n_ops)
    write_plan(out, plan)
    loaded = {}           # txn_id -> (cents, row) of every loaded (valid) id
    loaded_order = []
    batches, txn_no = [], 1000
    current_valid = {}    # the published star's fact ids -> view
    current_dims = []     # views of the published star's dimension source
    deleted_expect = {}
    b = 0
    for i, kind in enumerate(plan):
        if kind == "sql":
            continue
        if kind == "maintenance":
            ids = sorted(current_valid)
            dels = sorted(r.sample(ids, max(1, len(ids) // 100)))
            deleted_expect[i] = dels
            for t in dels:
                current_valid.pop(t)
            with open(os.path.join(out, "delete_%03d.csv" % i), "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(["transaction_id"])
                for t in dels:
                    w.writerow([t])
            continue
        n = rows
        body, whys = [], []
        for _ in range(n):
            row, why = _txn_row(r, pool, txn_no)
            txn_no += 1
            body.append(row)
            whys.append(why)
        # ~1% in-batch duplicates: same id, other amount, later in file order
        for j in r.sample(range(n), n // 100):
            dup = list(body[j])
            dup[3] = "%d.%02d" % (r.randrange(1, 9999), r.randrange(100))
            dup[7] = "dup"
            pos = r.randrange(j + 1, len(body) + 1)
            body.insert(pos, dup)
            whys.insert(pos, "dup")
        # ~5% re-sent ids: exact copies of rows already loaded
        resent = []
        if loaded_order:
            k = min(len(loaded_order), n // 20)
            resent = sorted(r.sample(loaded_order, k))
            for t in resent:
                pos = r.randrange(len(body) + 1)
                body.insert(pos, list(loaded[t][1]))
                whys.insert(pos, None)
        # expected: keep-first dedup, then validation
        seen, valid = set(), {}
        for row, why in zip(body, whys):
            if row[0] in seen:
                continue
            seen.add(row[0])
            if why is None:
                valid[row[0]] = (_valid_view(row), row)
        new_ids = [t for t in valid if t not in loaded]
        new_cents = sum(valid[t][0][1] for t in new_ids)
        for t in new_ids:
            loaded[t] = (valid[t][0][1], valid[t][1])
            loaded_order.append(t)
        current_valid = {t: v[0] for t, v in valid.items()}
        current_dims = list(current_valid.values())
        name = "batch_%03d.csv" % b
        b += 1
        with open(os.path.join(out, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(["transaction_id", "date", "category", "amount",
                        "merchant", "payment_method", "user_id", "notes"])
            w.writerows(body)
        batches.append({"op": i, "file": name, "rows": len(body),
                        "valid": len(valid), "new": len(new_ids),
                        "new_cents": new_cents, "resent": len(resent)})
    views = current_dims
    return {
        "plan": plan,
        "batches": batches,
        "deletes": {str(k): len(v) for k, v in deleted_expect.items()},
        "input_rows": sum(b["rows"] for b in batches),
        "measured_input_rows": sum(b["rows"] for b in batches if b["op"] >= warm_ops),
        "fact_rows": len(loaded),
        "fact_cents": sum(c for c, _ in loaded.values()),
        "star": {
            "fact_transactions": len(current_valid),
            "dim_category": len({v[2] for v in views}),
            "dim_payment_method": len({v[3] for v in views}),
            "dim_merchant": len({v[4] for v in views}),
            "dim_user": len({v[5] for v in views}),
            "dim_date": len({v[6] for v in views}),
        },
    }


# ---------------------------------------------------------- corpus_ingest

EN_STOPS = ["the", "a", "and", "of", "to", "in", "is"]
ES_STOPS = ["el", "la", "los", "de", "y", "en", "es"]
SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "zu", "ba", "do",
       "fi", "gu", "ha", "je", "ko", "lu", "ma", "no", "pi", "ro", "su", "te"]


class Corpus:
    """Planted-document factory. Every fresh document is checked against the
    global 3-shingle set, so it shares no shingle with any earlier document
    or the benchmark set: every drop the pipeline makes is a planted one."""

    def __init__(self, r):
        self.r = r
        words = set()
        while len(words) < 6000:
            words.add("".join(r.choice(SYL) for _ in range(r.randrange(2, 5))))
        self.vocab = sorted(w for w in words if len(w) >= 4)
        self.seen = set()

    @staticmethod
    def shingles(toks):
        return {(toks[i], toks[i + 1], toks[i + 2]) for i in range(len(toks) - 2)}

    def _tokens(self, n, stops, rate):
        r, out = self.r, []
        for _ in range(n):
            if out and out[-1] not in stops and r.random() < rate:
                out.append(r.choice(stops))
            else:
                out.append(r.choice(self.vocab))
        if out[-1] in stops:
            out[-1] = r.choice(self.vocab)
        return out

    def fresh(self, stops=EN_STOPS, rate=0.15, planted=None):
        """A document sharing no shingle with any earlier one, except the
        shingles inside `planted` (a word window copied from elsewhere)."""
        while True:
            toks = self._tokens(self.r.randrange(40, 80), stops, rate)
            own = set()
            if planted:
                toks[20:20] = planted
                own = self.shingles(planted)
            sh = self.shingles(toks)
            if len(sh) == len(toks) - 2 and not ((sh - own) & self.seen):
                self.seen |= sh
                return toks

    def near(self, toks):
        """A copy whose last token differs: Jaccard (m-1)/(m+1) >= 0.95."""
        while True:
            t = toks[:-1] + [self.r.choice(self.vocab)]
            sh = self.shingles(t) - self.shingles(toks)
            if len(sh) == 1 and not (sh & self.seen):
                self.seen |= sh
                return t

    def repetitive(self):
        while True:
            base = [self.r.choice(self.vocab) for _ in range(4)]
            toks = base * 12
            sh = self.shingles(toks)
            if not (sh & self.seen):
                self.seen |= sh
                return toks


def quality(toks):
    text = " ".join(toks)
    n = len(toks)
    stop = sum(t in EN_STOPS for t in toks)
    uniq3 = len(Corpus.shingles(toks)) / (n - 2)
    return (min(len(text) / 500.0, 1.0) + len(set(toks)) / n + stop / n + uniq3) / 4.0


def gen_corpus(seed, out, n_ops, warm_ops, docs, seed_docs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = random.Random(f"corpus-{seed}")
    c = Corpus(r)
    next_id = [1]

    def write(name, rows):
        pq.write_table(pa.table({
            "doc_id": pa.array([d for d, _ in rows], pa.int64()),
            "text": [" ".join(t) for _, t in rows]}),
            os.path.join(out, name), compression="snappy")

    def new_id():
        next_id[0] += 1
        return next_id[0] - 1

    bench = [(new_id(), c.fresh()) for _ in range(200)]
    write("benchmark.parquet", bench)
    initial = [(new_id(), c.fresh()) for _ in range(seed_docs)]
    write("seed_corpus.parquet", initial)
    indexed = [d for d, _ in initial]
    indexed_docs = list(initial)

    plan = op_kinds(CORPUS_CYCLE, warm_ops + n_ops)
    write_plan(out, plan)
    batches, queries = [], []
    planted_total = {"exact_dup": 0, "near_dup_index": 0, "near_dup_batch": 0,
                     "contaminated": 0, "low_quality": 0, "non_english": 0}
    b = 0
    for i, kind in enumerate(plan):
        if kind == "search":
            terms = sorted({r.choice(r.choice(indexed_docs)[1]) for _ in range(3)}
                           - set(EN_STOPS))
            queries.append({"op": i, "terms": terms or [c.vocab[0]]})
            continue
        if kind != "ingest_batch":
            continue
        n = docs
        rows, keep, planted = [], [], {k: 0 for k in planted_total}
        pairs = []
        for _ in range(n):
            x = r.random()
            if x < 0.05:
                d = (new_id(), list(r.choice(indexed_docs)[1]))
                planted["exact_dup"] += 1
            elif x < 0.10:
                d = (new_id(), c.near(r.choice(indexed_docs)[1]))
                planted["near_dup_index"] += 1
            elif x < 0.13:
                src = r.choice(bench)[1]
                j = r.randrange(len(src) - 4)
                d = (new_id(), c.fresh(planted=src[j:j + 4]))
                planted["contaminated"] += 1
            elif x < 0.15:
                d = (new_id(), c.repetitive())
                planted["low_quality"] += 1
            elif x < 0.17:
                d = (new_id(), c.fresh(stops=ES_STOPS, rate=0.3))
                planted["non_english"] += 1
            else:
                d = (new_id(), c.fresh())
                keep.append(d)
                if x > 0.97:  # in-batch near duplicate, later doc id
                    pairs.append(d)
            rows.append(d)
        for src in pairs:
            rows.append((new_id(), c.near(src[1])))
            planted["near_dup_batch"] += 1
        for d in keep:
            assert quality(d[1]) >= 0.56, "fresh document below quality margin"
        name = "batch_%03d.parquet" % b
        b += 1
        write(name, rows)
        for k in planted:
            planted_total[k] += planted[k]
        indexed += [d for d, _ in keep]
        indexed_docs += keep
        batches.append({"op": i, "file": name, "docs": len(rows), "kept": len(keep),
                        "planted": planted})
    with open(os.path.join(out, "queries.tsv"), "w") as f:
        for q in queries:
            f.write("%d\t%s\n" % (q["op"], " ".join(q["terms"])))
    ids = sorted(indexed)
    return {
        "plan": plan,
        "batches": batches,
        "queries": queries,
        "planted": planted_total,
        "input_docs": sum(b["docs"] for b in batches),
        "measured_input_docs": sum(b["docs"] for b in batches if b["op"] >= warm_ops),
        "indexed_docs": len(ids),
        "indexed_digest": hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest(),
        "indexed_ids": ids,
    }


# ------------------------------------------------------------ entry points


def generate(workload, seed, out, ops, warmup_ops, size):
    """Generate (or reuse) the inputs of one workload run; returns expected."""
    params = {"gen_version": GEN_VERSION, "workload": workload, "seed": seed,
              "ops": ops, "warmup_ops": warmup_ops, "size": size}
    pfile = os.path.join(out, "params.json")
    efile = os.path.join(out, "expected.json")
    if os.path.exists(pfile) and os.path.exists(efile):
        with open(pfile) as f:
            if json.load(f) == params:
                with open(efile) as g:
                    return json.load(g)
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".partial"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    tiny = size == "tiny"
    if workload == "etl_batches":
        exp = gen_etl(seed, tmp, ops, warmup_ops,
                      rows=600 if tiny else 15000)
    elif workload == "corpus_ingest":
        exp = gen_corpus(seed, tmp, ops, warmup_ops,
                         docs=80 if tiny else 1000, seed_docs=100 if tiny else 300)
    else:
        raise SystemExit("unknown workload: " + workload)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(exp, f, sort_keys=True)
    with open(os.path.join(tmp, "params.json"), "w") as f:
        json.dump(params, f, sort_keys=True)
    os.rename(tmp, out)
    return exp


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ops", type=int, required=True)
    ap.add_argument("--warmup-ops", type=int, default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.out, a.ops, a.warmup_ops, a.size)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    main()
