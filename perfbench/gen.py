"""Seeded input generators. Every input is a pure function of (workload, seed):
the same seed gives byte-identical files, and the engine sees only these files.

Sizes are fixed per workload; the seed varies the properties the engine's
behaviour depends on (null and cancel shares, duplicate shares, key skew, late
versions) inside narrow bands, so runs on different seeds stay comparable.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# airline: an AirlineFixture-shaped raw CSV
# --------------------------------------------------------------------------

AIRLINES = ["Alpha Air", "Bravo Airways", "Canyon Jet", "Delta Wing", "EchoFly",
            "Foxtrot Air", "Golf Airlines", "Hotel Air", "IndigoJet", "Juliet Air"]
CITIES = ["Boston, MA", "New York, NY", "Chicago, IL", "Austin, TX", "Denver, CO",
          "Seattle, WA", "Miami, FL", "Atlanta, GA", "Phoenix, AZ", "Nomad"]
STATES = ["MA", "NY", "IL", "TX", "CO", "WA", "FL", "GA", "AZ", "XX"]
PORTS = ["BOS", "JFK", "ORD", "AUS", "DEN", "SEA", "MIA", "ATL", "PHX", "NMD"]


def airline(out_dir, seed):
    rng = np.random.default_rng([seed, 1])
    rows = int(rng.integers(11_500, 12_500))
    cancel_share = rng.uniform(0.015, 0.04)
    null_share = rng.uniform(0.01, 0.03)
    n = rows
    # frequency-skewed airlines (StringIndexer ordering depends on it)
    aw = rng.dirichlet(np.ones(10) * 0.8)
    airline_ix = rng.choice(10, n, p=aw)
    year = 2018 + rng.integers(0, 5, n)
    month = 1 + rng.integers(0, 12, n)
    cancelled = rng.random(n) < cancel_share
    hour = rng.integers(0, 24, n)
    minute = rng.integers(0, 60, n)
    # delays depend on carrier, hour of day and season, so the classifier has
    # signal in the features it keeps and AUC sits well above 0.5
    carrier = rng.normal(0, 8, 10)[airline_ix]
    base = carrier + (hour - 12) * 1.5 + np.where(np.isin(month, [6, 7, 12]), 6, 0)
    dep_delay = np.round(base + rng.normal(0, 10, n))
    arr_delay = np.round(dep_delay * 0.8 + rng.normal(0, 8, n))
    air_time = np.round(rng.uniform(30, 330, n))
    dep_time = (hour * 100 + minute).astype(float)
    arr_time = ((hour + 2) % 24 * 100 + rng.integers(0, 60, n)).astype(float)

    def nulls(a):
        a = a.astype(object)
        a[rng.random(n) < null_share] = None
        return a

    cols = {
        "Year": year, "Month": month,
        "DayofMonth": 1 + rng.integers(0, 28, n),
        "DayOfWeek": 1 + rng.integers(0, 7, n),
        "Airline": np.array(AIRLINES)[airline_ix],
        "Origin": np.array(PORTS)[rng.integers(0, 10, n)],
        "Dest": np.array(PORTS)[rng.integers(0, 10, n)],
        "OriginCityName": np.array(CITIES)[rng.integers(0, 10, n)],
        "OriginState": np.array(STATES)[rng.integers(0, 10, n)],
        "DestCityName": np.array(CITIES)[rng.integers(0, 10, n)],
        "DestState": np.array(STATES)[rng.integers(0, 10, n)],
        "Cancelled": np.where(cancelled, "true", "false"),
        "Diverted": np.full(n, "false"),
        "DepTime": nulls(dep_time), "ArrTime": nulls(arr_time),
        "DepDelay": np.where(cancelled, None, dep_delay).astype(object),
        "ArrDelay": np.where(cancelled, None, arr_delay).astype(object),
        "AirTime": nulls(air_time),
        "Quarter": (month - 1) // 3 + 1,
        "Distance": np.round(air_time * 7.5 + rng.integers(0, 50, n)),
    }
    names = list(cols)
    path = os.path.join(out_dir, "flights.csv")
    with open(path, "w") as f:
        f.write(",".join(names) + "\n")
        columns = [cols[c] for c in names]
        for i in range(n):
            cells = []
            for c in columns:
                v = c[i]
                if v is None:
                    cells.append("")
                elif isinstance(v, str):
                    cells.append('"%s"' % v if "," in v else v)
                elif isinstance(v, float):
                    cells.append(repr(float(v)))
                else:
                    cells.append(str(v))
            f.write(",".join(cells) + "\n")
    return {"rows": n, "cancel_share": cancel_share, "null_share": null_share}


# --------------------------------------------------------------------------
# star: TPC-H-shaped star tables plus an events stream
# --------------------------------------------------------------------------

PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def star(out_dir, seed, n_orders=4000, n_events=6000):
    rng = np.random.default_rng([seed, 2])
    n_cust, n_part, n_supp = n_orders // 10, n_orders * 2 // 15, 60
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)}),
        f"{out_dir}/part.parquet")
    day0 = np.datetime64("1995-01-01", "us").astype("int64")
    odate = day0 + rng.integers(0, 2400, n_orders) * US_PER_DAY
    _write(pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]}),
        f"{out_dir}/orders.parquet")
    per = rng.integers(1, 8, n_orders)
    lo = np.repeat(np.arange(n_orders), per)
    ln = np.concatenate([np.arange(1, k + 1) for k in per])
    n_li = len(lo)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(pa.table({
        "l_orderkey": lo.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[lo] + rng.integers(1, 120, n_li) * US_PER_DAY)}),
        f"{out_dir}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // n_events, n_events)
    _write(pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(t0 + np.cumsum(gaps)),
        "user_id": rng.integers(0, 100, n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]}),
        f"{out_dir}/events.parquet")
    return {"orders": n_orders, "lineitem": n_li, "events": n_events}


# --------------------------------------------------------------------------
# corpus: documents with planted duplicates + clustered embeddings
# --------------------------------------------------------------------------

LANGS = ["en", "es", "fr", "de", "zh"]
# marker words the engine's language id looks for, plus content words per language
MARKERS = {"en": "the a of and is to in that", "es": "el la de que y en un por",
           "fr": "le la de et les des un une", "de": "der die und das ist nicht ein zu",
           "zh": "de5 shi4 bu4 le5 zai4 ren2 you3 wo3"}
CONTENT = ("key agg row scan slow fast table value part hash merge batch spark line sort "
           "window order data column join small customer query stream big filter group "
           "vector index shard token model train score rank page link node edge graph "
           "plan stage task cache spill buffer page file block record field schema")


def _vocab(lang, rng):
    words = CONTENT.split()
    suffix = {"en": "", "es": "o", "fr": "e", "de": "en", "zh": "4"}[lang]
    return MARKERS[lang].split(), [w + suffix for w in words] + \
        [f"{lang}{i}" for i in rng.permutation(300)]


def corpus(out_dir, seed, n_docs=300, dim=64, n_clusters=10):
    rng = np.random.default_rng([seed, 3])
    exact_share = rng.uniform(0.04, 0.08)
    near_share = rng.uniform(0.06, 0.10)
    n_sources = 20
    lang_p = rng.dirichlet(np.ones(5) * 4)
    src_p = rng.dirichlet(np.ones(n_sources) * 6)
    vocab = {lang: _vocab(lang, rng) for lang in LANGS}
    texts, langs = [], []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < exact_share + near_share:
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            if r >= exact_share:
                for _ in range(max(1, len(words) // 25)):
                    words[rng.integers(0, len(words))] = vocab[langs[j]][1][rng.integers(0, 40)]
            texts.append(" ".join(words))
            langs.append(langs[j])
            continue
        lang = LANGS[rng.choice(5, p=lang_p)]
        markers, content = vocab[lang]
        length = int(rng.integers(20, 140))
        words = [markers[rng.integers(0, len(markers))] if rng.random() < 0.2
                 else content[rng.integers(0, len(content))] for _ in range(length)]
        texts.append(" ".join(words))
        langs.append(lang)
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i}" for i in rng.choice(n_sources, n_docs, p=src_p)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}),
        f"{out_dir}/documents.parquet")
    centers = rng.normal(0, 1, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n_docs)
    emb = (centers[label] + rng.normal(0, 0.35, (n_docs, dim))).astype("float32")
    _write(pa.table({
        "vec_id": np.arange(n_docs, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}),
        f"{out_dir}/embeddings.parquet")
    return {"docs": n_docs, "exact_share": exact_share, "near_share": near_share}


# --------------------------------------------------------------------------
# cdc: an initial state plus a skewed change stream
# --------------------------------------------------------------------------

def cdc(out_dir, seed, n_keys=12_000, n_batches=40, batch_rows=400):
    """Change rows are (k, ver, ts, a, b, late). In-order versions are even and
    increase with `ts`; a late row carries the odd version just below one
    already delivered, so the upsert must keep the newer one. The SCD2 apply
    gets only the in-order rows: per-key time order across batches is
    IngestScd2's contract. Rows are shuffled within a batch."""
    rng = np.random.default_rng([seed, 4])
    zipf_a = rng.uniform(1.15, 1.3)
    late_share = rng.uniform(0.05, 0.12)
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    step = 1_000_000
    state = pa.table({
        "k": np.arange(n_keys, dtype="int64"),
        "ver": 2 * np.arange(n_keys, dtype="int64"),
        "ts": _ts(t0 + np.arange(n_keys)),
        "a": rng.integers(0, 1000, n_keys),
        "b": [f"v{x}" for x in rng.integers(0, 50, n_keys)]})
    os.makedirs(f"{out_dir}/batches", exist_ok=True)
    _write(state, f"{out_dir}/state.parquet")
    perm = rng.permutation(n_keys)
    seq = n_keys
    reads = []
    history = []  # (k, ver, ts) of applied in-order changes, for late rows
    for b in range(n_batches):
        n_late = int(batch_rows * late_share) if b > 0 else 0
        n_new = batch_rows - n_late
        keys = perm[(rng.zipf(zipf_a, n_new) - 1) % n_keys]
        seqs = seq + np.arange(n_new)
        seq += n_new
        vers = 2 * seqs  # in-order versions are even, late ones odd
        ts = t0 + seqs * step
        late_k, late_v, late_t = [], [], []
        if n_late:
            pick = rng.integers(0, len(history), n_late)
            for j in pick:
                k, v, t = history[j]
                late_k.append(k)
                late_v.append(v - 1)
                late_t.append(t - 1)
        hist_now = list(zip(keys.tolist(), vers.tolist(), ts.tolist()))
        history.extend(hist_now)
        all_k = np.concatenate([keys, np.array(late_k, dtype="int64")])
        all_v = np.concatenate([vers, np.array(late_v, dtype="int64")])
        all_t = np.concatenate([ts, np.array(late_t, dtype="int64")])
        is_late = np.concatenate([np.zeros(n_new, bool), np.ones(n_late, bool)])
        order = rng.permutation(len(all_k))
        n = len(all_k)
        tbl = pa.table({
            "k": all_k[order].astype("int64"),
            "ver": all_v[order],
            "ts": _ts(all_t[order]),
            "a": rng.integers(0, 1000, n),
            "b": [f"v{x}" for x in rng.integers(0, 50, n)],
            "late": is_late[order]})
        _write(tbl, f"{out_dir}/batches/{b:04d}.parquet")
        # four read groups per batch: the batch's hottest keys plus random
        # ones, each read as of a time inside the batch
        uniq, counts = np.unique(keys, return_counts=True)
        hot = uniq[np.lexsort((uniq, -counts))][:16].tolist()
        groups = []
        for g in range(4):
            read_keys = list(dict.fromkeys(hot[4 * g:4 * g + 4] + rng.integers(0, n_keys, 4).tolist()))
            t = int(np.quantile(ts, (g + 1) / 5))
            groups.append("%d %s" % (t, ",".join(map(str, read_keys))))
        reads.append(" ".join(groups))
    with open(f"{out_dir}/batches/reads.txt", "w") as f:
        f.write("\n".join(reads) + "\n")
    return {"keys": n_keys, "batches": n_batches, "batch_rows": batch_rows,
            "zipf_a": zipf_a, "late_share": late_share}


def airline_star(out_dir, seed):
    return {"airline": airline(_sub(out_dir, "airline"), seed),
            "star": star(_sub(out_dir, "star"), seed)}


def corpus_cdc(out_dir, seed):
    return {"corpus": corpus(_sub(out_dir, "corpus"), seed),
            "cdc": cdc(_sub(out_dir, "cdc"), seed)}


def _sub(out_dir, name):
    d = os.path.join(out_dir, name)
    os.makedirs(d, exist_ok=True)
    return d


GENERATORS = {"airline_star": airline_star, "corpus_cdc": corpus_cdc}


def generate(workload, seed, out_dir):
    """Generates the inputs once per (workload, seed); a marker file makes a
    half-written directory from an interrupted run count as absent."""
    marker = os.path.join(out_dir, "_generated.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    props = GENERATORS[workload](out_dir, seed)
    with open(marker, "w") as f:
        json.dump(props, f)
    return props
