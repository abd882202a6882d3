"""Seeded input generator for the benchmark.

Builds, from one seed, every input the three workloads feed the program:

* a TPC-H-shaped base dataset (the ten tables of the program's fixture
  schema: region nation customer supplier part orders lineitem events
  documents embeddings), one parquet file per table;
* for ``nightly_refresh``: a dataset derived from the base the way
  ``graft.ScaleCanary`` derives its scaled datasets (key-offset replicas,
  per-replica vocabulary tags on documents, shifted embeddings);
* for ``replay_cycles``: the maintainers' initial fact/corpus state and a
  schedule of micro-batch drops, one parquet file per batch;
* for ``analyst_session``: the question list.

The base tables follow the distributions of the fixture tables the
program's tests read: uniform keys and categories, about four line items
per order, exponential event values, 10-100-word documents over a
31-word vocabulary, one row group per file.

Everything is cached under ``<cache>/<GEN_VERSION>-<workload>-<scale>-s<seed>``
and reused when the ``_DONE`` stamp is present, so the same seed always
yields the same inputs and generation is paid once per seed.
"""

import json
import os
import re
import shutil
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "g3"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "rod", "plate", "gear", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.14, 0.12, 0.12, 0.12]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = int((np.datetime64("2001-08-01") - ORDER_DAY0).astype(int))
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 1_000_000

# ScaleCanary's per-key-domain replica offsets (well above each domain's max key).
OFFSETS = {"orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
           "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000,
                        "l_suppkey": 1_000_000},
           "customer": {"c_custkey": 1_000_000},
           "supplier": {"s_suppkey": 1_000_000},
           "part": {"p_partkey": 1_000_000},
           "events": {"event_id": 10_000_000, "user_id": 1_000_000},
           "documents": {"doc_id": 1_000_000},
           "embeddings": {"vec_id": 1_000_000}}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    dup = rng.random(int(lens.sum())) < 0.001
    vocab = np.array(VOCAB, dtype=object)
    toks = np.where(dup, "dup", vocab[words])
    out, i = [], 0
    for k in lens:
        out.append(" ".join(toks[i:i + k]))
        i += k
    return out


def base_tables(sf, seed):
    """The ten fixture tables at scale factor ``sf`` as pyarrow tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_li, n_ev = max(6000, int(6_000_000 * sf)), max(1000, int(1_000_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(150, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": (ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, n_ord)).astype("datetime64[us]"),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": (ORDER_DAY0 + 1 + rng.integers(0, ORDER_DAYS + 95, n_li)).astype("datetime64[us]")})
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def derive(tables, replicas):
    """ScaleCanary's derivation: ``replicas`` key-offset copies of each fact
    and entity table (FKs shifted with their keys, so relationships hold
    inside each replica); region and nation stay fixed. Replica ``r > 0``
    tags every document word with ``r<r>`` and shifts embeddings by
    ``r * 0.0137`` so replicas do not duplicate one another."""
    out = {"region": tables["region"], "nation": tables["nation"]}
    for name, tab in tables.items():
        if name in out:
            continue
        parts = []
        for r in range(replicas):
            cols = {}
            for c in tab.column_names:
                off = OFFSETS.get(name, {}).get(c)
                cols[c] = tab[c] if off is None else pa.array(
                    tab[c].to_numpy() + r * off, tab.schema.field(c).type)
            if r > 0 and name == "documents":
                txt = [" ".join(f"r{r}{w}" for w in s.split(" ")) for s in tab["text"].to_pylist()]
                cols["text"] = pa.array(txt)
                cols["n_chars"] = pa.array([len(s) for s in txt], pa.int64())
            if r > 0 and name == "embeddings":
                cols["embedding"] = pa.array(
                    [[x + np.float32(r * 0.0137) for x in v] for v in tab["embedding"].to_pylist()],
                    pa.list_(pa.float32()))
            parts.append(pa.table(cols, schema=tab.schema))
        out[name] = pa.concat_tables(parts)
    return out


def write_dataset(tables, d):
    os.makedirs(d, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(d, f"{name}.parquet"))


# ---- replay_cycles -------------------------------------------------------

REPLAY = {"batch_frac": 0.002, "new_share": 0.5, "init_share": 0.5, "cycles": 150}


def replay_inputs(tables, d, seed):
    """Initial state plus ``cycles`` (fact, docs) micro-batch drops.

    Each fact drop carries about ``batch_frac`` of all parents, each with its
    FULL child set (the maintainers' child-replace contract): ``new_share``
    of them are parents not yet in the state, the rest are whole-parent
    updates (quantity and price of every child changed). Each document drop
    mixes new documents and whole-document re-texts in the same ratio."""
    rng = np.random.default_rng(seed + 7919)
    li = tables["lineitem"].select(["l_orderkey", "l_quantity", "l_returnflag", "l_extendedprice"])
    li = pa.table({"l_orderkey": li["l_orderkey"],
                   "qty": pa.array(li["l_quantity"].to_numpy().astype(np.int64)),
                   "l_returnflag": li["l_returnflag"],
                   "l_extendedprice": li["l_extendedprice"]})
    docs = tables["documents"].select(["doc_id", "text"])
    n_ord = tables["orders"].num_rows
    n_doc = docs.num_rows
    order_perm = rng.permutation(n_ord)
    doc_perm = rng.permutation(n_doc)
    init_ord = order_perm[:int(n_ord * REPLAY["init_share"])]
    held_ord = order_perm[int(n_ord * REPLAY["init_share"]):]
    init_doc = doc_perm[:int(n_doc * REPLAY["init_share"])]
    held_doc = doc_perm[int(n_doc * REPLAY["init_share"]):]

    keys = li["l_orderkey"].to_numpy()
    order = np.argsort(keys, kind="stable")
    skeys = keys[order]
    starts = np.searchsorted(skeys, np.arange(n_ord))
    ends = np.searchsorted(skeys, np.arange(n_ord), side="right")

    def children(parents):
        idx = np.concatenate([order[starts[p]:ends[p]] for p in parents]) if len(parents) else np.array([], np.int64)
        return li.take(pa.array(idx, pa.int64()))

    os.makedirs(os.path.join(d, "drops"), exist_ok=True)
    pq.write_table(children(np.sort(init_ord)), os.path.join(d, "fact0.parquet"))
    pq.write_table(docs.take(pa.array(np.sort(init_doc))), os.path.join(d, "docs0.parquet"))

    per_batch = max(2, int(round(n_ord * REPLAY["batch_frac"])))
    doc_batch = max(2, int(round(n_doc * REPLAY["batch_frac"])))
    n_new = int(per_batch * REPLAY["new_share"])
    d_new = int(doc_batch * REPLAY["new_share"])
    live_ord, live_doc = np.array(init_ord), np.array(init_doc)
    doc_text = docs["text"].to_pylist()
    held_o = iter(held_ord)
    held_d = iter(held_doc)
    rows = 0
    for c in range(REPLAY["cycles"]):
        new_p = [int(p) for p, _ in zip(held_o, range(n_new))]
        upd_p = [int(x) for x in rng.choice(live_ord, per_batch - len(new_p), replace=False)]
        parents = np.array(sorted(new_p + upd_p), np.int64)
        batch = children(parents)
        bump = rng.integers(1, 4)
        upd = np.isin(batch["l_orderkey"].to_numpy(), np.array(upd_p, np.int64))
        batch = pa.table({
            "l_orderkey": batch["l_orderkey"],
            "qty": pa.array(batch["qty"].to_numpy() + np.where(upd, bump, 0)),
            "l_returnflag": batch["l_returnflag"],
            "l_extendedprice": pa.array(np.round(batch["l_extendedprice"].to_numpy() + np.where(upd, 1.25 * bump, 0.0), 2))})
        live_ord = np.concatenate([live_ord, np.array(new_p, np.int64)])
        rows += batch.num_rows
        pq.write_table(batch, os.path.join(d, "drops", f"fact_{c:04d}.parquet"))

        new_d = [int(x) for x, _ in zip(held_d, range(d_new))]
        upd_d = [int(x) for x in rng.choice(live_doc, doc_batch - len(new_d), replace=False)]
        ids, txt = [], []
        for x in sorted(new_d + upd_d):
            if x in upd_d:
                words = doc_text[x].split(" ")
                k = rng.integers(0, len(words))
                words[k] = VOCAB[rng.integers(0, len(VOCAB))]
                doc_text[x] = " ".join(words + [f"rev{c}"])
            ids.append(int(x))
            txt.append(doc_text[x])
        live_doc = np.concatenate([live_doc, np.array(new_d, np.int64)])
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": txt}),
               os.path.join(d, "drops", f"docs_{c:04d}.parquet"))
    return {"cycles": REPLAY["cycles"], "fact_parents_per_batch": per_batch,
            "docs_per_batch": doc_batch, "new_share": REPLAY["new_share"],
            "init_share": REPLAY["init_share"], "fact_rows_in_drops": rows}


# ---- analyst_session -----------------------------------------------------

_DMY = re.compile(r"\b(\d\d)-(\d\d)-(\d{4})\b")
_ISO = re.compile(r"\b(\d{4})-(\d\d)-(\d\d)\b")
_YEAR = re.compile(r"\b(199\d|200\d)\b")
_NUM = re.compile(r"(?<![\w.-])(\d+)(?![\w.-])")
_K = re.compile(r"\b(top|first) (\d+)\b")


def _shift_dates(q, o, days, rng):
    """Shift every day literal of the question and its oracle by the same
    whole number of days; events dates stay inside January 2024."""
    found = [dt.date(int(y), int(m), int(d_)) for d_, m, y in _DMY.findall(q)] + \
            [dt.date(int(y), int(m), int(d_)) for y, m, d_ in _ISO.findall(q)]
    if not found:
        return q, o, False
    if any(x.year == 2024 for x in found):
        lo = max(dt.date(2024, 1, 1) - x for x in found).days
        hi = min(dt.date(2024, 1, 30) - x for x in found).days
        days = int(rng.integers(lo, hi + 1))
    if days == 0:
        return q, o, False
    sh = lambda x: x + dt.timedelta(days=days)
    q = _DMY.sub(lambda m: sh(dt.date(int(m[3]), int(m[2]), int(m[1]))).strftime("%d-%m-%Y"), q)
    q = _ISO.sub(lambda m: sh(dt.date(int(m[1]), int(m[2]), int(m[3]))).isoformat(), q)
    o = _ISO.sub(lambda m: sh(dt.date(int(m[1]), int(m[2]), int(m[3]))).isoformat(), o)
    return q, o, True


def _fresh(t, rng):
    """One fresh-literal variant of template ``t`` (question, oracle), or
    None when the template has no literal to vary."""
    q, o = t["question"], t["oracle"]
    changed = False
    q, o, c = _shift_dates(q, o, int(rng.integers(-40, 41)), rng)
    changed |= c
    if not c:
        years = [int(y) for y in _YEAR.findall(q)]
        if years:
            lo, hi = 1995 - min(years), 2001 - max(years)
            dy = int(rng.integers(lo, hi + 1))
            if dy:
                span = range(min(years) - 1, max(years) + 2)
                q = _YEAR.sub(lambda m: str(int(m[1]) + dy), q)
                o = _YEAR.sub(lambda m: str(int(m[1]) + dy) if int(m[1]) in span else m[1], o)
                changed = True
    km = _K.search(q)
    if km:
        k = int(km[2])
        if len(re.findall(rf"(?<![\w.]){k}(?![\w.])", o)) == 1:
            k2 = int(rng.integers(2, 11))
            if k2 != k:
                q = q[:km.start(2)] + str(k2) + q[km.end(2):]
                o = re.sub(rf"(?<![\w.]){k}(?![\w.])", str(k2), o)
                changed = True
    # numeric thresholds: any other bare number of 50 or more that the
    # oracle states exactly once is scaled by one factor
    f = float(rng.choice([0.8, 0.9, 1.1, 1.25]))
    for m in list(_NUM.finditer(q)):
        n = int(m[1])
        if n < 50 or _YEAR.fullmatch(m[1]) or (km and m.start() == km.start(2)):
            continue
        if re.search(rf"\b{n}(st|nd|rd|th)\b", q) or len(re.findall(rf"(?<![\w.']){n}(?![\w.'])", o)) != 1:
            continue
        n2 = int(round(n * f))
        q = re.sub(rf"(?<![\w.-]){n}(?![\w.-])", str(n2), q, count=1)
        o = re.sub(rf"(?<![\w.']){n}(?![\w.'])", str(n2), o)
        changed = True
    return (q, o) if changed else None


ANALYST = {"questions": 1000, "repeat_share": 0.3}


def analyst_inputs(templates, d, seed):
    """The session's question list. Three questions in ten (fixed
    positions, so ``repeat_share`` is exact) re-ask a seed-chosen earlier
    question verbatim; the others walk the templates in one fixed order,
    each with fresh seed-drawn literals (years, day ranges, thresholds, k).
    The fixed order gives every seed the same template mix, so a run that
    is cut by time covers the same templates whatever its seed."""
    rng = np.random.default_rng(seed + 104729)
    order = np.random.default_rng(0).permutation(len(templates))
    out, asked = [], []
    for i in range(ANALYST["questions"]):
        if asked and i % 10 in (3, 6, 9):
            out.append(dict(asked[int(rng.integers(0, len(asked)))], repeat=True))
            continue
        t = templates[order[len(asked) % len(templates)]]
        v = _fresh(t, rng)
        q, o = v if v else (t["question"], t["oracle"])
        e = {"template": t["name"], "question": q, "oracle": o}
        asked.append(e)
        out.append(dict(e, repeat=False))
    with open(os.path.join(d, "questions.json"), "w") as f:
        json.dump(out, f)
    return {"questions": len(out), "templates": len(templates),
            "repeat_share": ANALYST["repeat_share"]}


def generate(cache, workload, seed, sf, replicas, templates):
    """Generate (or reuse) the inputs of one workload; returns its dir."""
    d = os.path.join(cache, f"{GEN_VERSION}-{workload}-sf{sf}x{replicas}-s{seed}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    tables = base_tables(sf, seed)
    if replicas > 1:
        tables = derive(tables, replicas)
    write_dataset(tables, os.path.join(d, "data"))
    props = {"sf": sf, "replicas": replicas, "seed": seed}
    if workload == "replay_cycles":
        props.update(replay_inputs(tables, d, seed))
    elif workload == "analyst_session":
        props.update(analyst_inputs(templates, d, seed))
    with open(os.path.join(d, "inputs.json"), "w") as f:
        json.dump(props, f)
    open(os.path.join(d, "_DONE"), "w").close()
    return d
