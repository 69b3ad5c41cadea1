"""Correctness checks of one run's outputs, outside every timed region.

Query outputs are compared with DuckDB in the canonical form of
tools/check_oracle.py: columns sorted by name, doubles rounded to 1e-6, rows
sorted, values equal within 2e-6, and a Spark integer column against a DuckDB
floating column counts as a mismatch. DuckDB's answers are cached per seed.
Outputs too costly to recompute (dedup clusters, curate shards) are checked by
invariants. Every wrong output is one failed op.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb
import numpy as np

INT_TYPES = ("tinyint", "smallint", "int", "bigint")
FLOAT_DUCK = ("FLOAT", "DOUBLE", "REAL")
EPOCH = datetime.datetime(1970, 1, 1)


# --------------------------------------------------------------------------
# canonical form
# --------------------------------------------------------------------------

def norm(v):
    """A hashable, comparable value: floats rounded to 1e-6, timestamps as
    epoch microseconds, dates as ISO strings, lists and structs as tuples,
    maps as sorted tuples of pairs."""
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else round(f, 6)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], (list, tuple)):
            return tuple(sorted(zip(map(norm, v["key"]), map(norm, v["value"])), key=sort_key))
        return tuple(norm(x) for x in v.values())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm(x) for x in v)
    return v


def sort_key(v):
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (1, v)
    if isinstance(v, str):
        return (2, v)
    if isinstance(v, tuple):
        return (3, tuple(sort_key(x) for x in v))
    return (4, str(v))


def close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return abs(a - b) <= 2e-6
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


class Table:
    """Canonical rows: columns lower-cased and sorted, rows normalized and
    sorted. `kinds` holds each column's type family for the dtype rule."""

    def __init__(self, names, rows, kinds):
        order = sorted(range(len(names)), key=lambda i: names[i].lower())
        self.names = [names[i].lower() for i in order]
        self.kinds = [kinds[i] for i in order]
        self.rows = sorted((tuple(norm(r[i]) for i in order) for r in rows),
                           key=lambda r: tuple(sort_key(x) for x in r))


def spark_table(path):
    with open(path) as f:
        d = json.load(f)
    names = [c[0] for c in d["columns"]]
    kinds = ["int" if c[1] in INT_TYPES else "float" if c[1] in ("double", "float")
             or c[1].startswith("decimal") else "other" for c in d["columns"]]
    # timestamps arrive as epoch µs already; everything else is plain JSON
    return Table(names, d["rows"], kinds)


def duck_table(con, sql):
    cur = con.execute(sql)
    names = [c[0] for c in cur.description]
    kinds = ["float" if str(c[1]).upper() in FLOAT_DUCK else "other" for c in cur.description]
    return Table(names, cur.fetchall(), kinds)


def compare(got, want):
    """None when equal, else a one-line reason."""
    clash = [n for n, gk, wn, wk in zip(got.names, got.kinds, want.names, want.kinds)
             if gk == "int" and wk == "float" and n == wn]
    if got.names != want.names:
        return f"SCHEMA got={got.names} want={want.names}"
    if clash:
        return f"DTYPE spark int vs oracle float: {clash}"
    if len(got.rows) != len(want.rows):
        return f"ROWS got={len(got.rows)} want={len(want.rows)}"
    for i, (g, w) in enumerate(zip(got.rows, want.rows)):
        if not close(g, w):
            return f"VALUES row {i}: got={g} want={w}"
    return None


def compare_in_duckdb(con, got_sql, want_sql):
    """compare() for tables too large to canonicalize row by row in Python:
    the same column names, doubles rounded to 1e-6, then a two-way EXCEPT ALL
    inside DuckDB. None when equal, else a one-line reason."""
    def cols(sql):
        return {c[0].lower(): str(c[1]).upper() for c in
                con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description}
    g, w = cols(got_sql), cols(want_sql)
    if sorted(g) != sorted(w):
        return f"SCHEMA got={sorted(g)} want={sorted(w)}"
    sel = ", ".join(f"round({c}, 6) AS {c}" if w[c] in FLOAT_DUCK or g[c] in FLOAT_DUCK
                    else c for c in sorted(w))
    n_got, n_want = (con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
                     for q in (got_sql, want_sql))
    if n_got != n_want:
        return f"ROWS got={n_got} want={n_want}"
    diff = con.execute(f"""SELECT count(*) FROM (
        (SELECT {sel} FROM ({got_sql}) EXCEPT ALL SELECT {sel} FROM ({want_sql}))
        UNION ALL
        (SELECT {sel} FROM ({want_sql}) EXCEPT ALL SELECT {sel} FROM ({got_sql})))""").fetchone()[0]
    return f"VALUES {diff} rows differ" if diff else None


class Oracle:
    """DuckDB over a run's input directory, with answers cached per seed."""

    def __init__(self, in_dir, cache_dir):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for p in sorted(glob.glob(os.path.join(in_dir, "*.parquet"))):
            name = os.path.basename(p)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def table(self, sql):
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        t = duck_table(self.con, sql)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(t, f)
        os.replace(path + ".tmp", path)
        return t


# --------------------------------------------------------------------------
# per-workload checks
# --------------------------------------------------------------------------

def check(workload, seed, in_dir, out_dir, work):
    """Returns {"checked": n, "failures": [step: reason], "layers": {...}}."""
    report = {"checked": 0, "failures": [], "layers": {}}

    def expect(name, ok, why=""):
        report["checked"] += 1
        if not ok:
            report["failures"].append(f"{name}: {why}")

    for part, sub in PARTS[workload]:
        part_in = os.path.join(in_dir, sub)
        oracle = Oracle(part_in, os.path.join(work, "expected", workload, str(seed), part))
        CHECKS[part](oracle, part_in, out_dir, expect, report)
    return report


def check_star(oracle, in_dir, out_dir, expect, report):
    with open(os.path.join(out_dir, "check", "queries_oracle_sql.json")) as f:
        sqls = json.load(f)
    for q in sorted(sqls):
        path = os.path.join(out_dir, "check", "queries", q + ".json")
        if not os.path.exists(path):
            expect(q, False, "no output")
            continue
        why = compare(spark_table(path), oracle.table(sqls[q]))
        expect(q, why is None, why)


# LR reads the carrier/hour/season signal the generator plants; the depth-5
# tree reads less of it
AUC_FLOOR = {"lr": 0.75, "dt": 0.6}

SURVIVORS = ("Year, Month, DayofMonth, DayOfWeek, Airline, Origin, Dest, OriginCityName, "
             "OriginState, DestCityName, DestState, Cancelled, Diverted, DepTime, ArrTime, "
             "DepDelay, ArrDelay, AirTime, Quarter, Distance")


def _hhmm_hour(c):
    s = f"CAST(CAST(trunc({c}) AS INTEGER) AS VARCHAR)"
    return (f"CASE WHEN {c} >= 1000 THEN CAST(substr({s}, 1, 2) AS INTEGER) "
            f"WHEN {c} >= 100 THEN CAST(substr({s}, 1, 1) AS INTEGER) ELSE 0 END")


def _hhmm_minute(c):
    return f"CAST(right(CAST(CAST(trunc({c}) AS INTEGER) AS VARCHAR), 2) AS INTEGER)"


def check_airline(oracle, in_dir, out_dir, expect, report):
    con = oracle.con
    con.execute(f"CREATE OR REPLACE VIEW raw AS SELECT * FROM read_csv('{in_dir}/flights.csv', "
                "header=true, auto_detect=true)")
    not_null = " AND ".join(f"{c.strip()} IS NOT NULL" for c in SURVIVORS.split(","))
    flown = f"SELECT * FROM raw WHERE NOT Cancelled AND {not_null}"
    con.execute(f"""CREATE OR REPLACE VIEW viz AS
        SELECT *, CAST(least(greatest(floor(DepDelay / 15), -2), 12) AS INTEGER) AS DelayGroup
        FROM (SELECT * FROM raw WHERE Cancelled UNION ALL {flown})""")
    clean_sql = f"""SELECT Airline, Origin, Dest, CAST(Diverted AS INTEGER) AS Diverted, AirTime,
        Distance, Year, Quarter, Month, DayofMonth, DayOfWeek,
        split_part(OriginCityName, ',', 1) AS OriginCityName, OriginState,
        split_part(DestCityName, ',', 1) AS DestCityName, DestState,
        CASE WHEN DepDelay <= 0 AND ArrDelay <= 0 THEN 0 ELSE 1 END AS Delay_Status,
        {_hhmm_hour('DepTime')} AS DepTimeHour, {_hhmm_minute('DepTime')} AS DepTimeMinute,
        {_hhmm_hour('ArrTime')} AS ArrTimeHour, {_hhmm_minute('ArrTime')} AS ArrTimeMinute
        FROM ({flown})"""
    for name, sql in (("viz_csv", "SELECT * FROM viz"), ("clean_csv", clean_sql)):
        files = glob.glob(os.path.join(out_dir, name, "part-*.csv"))
        if len(files) != 1:
            expect(name, False, f"{len(files)} part files, want 1 (singleFile sink)")
            continue
        why = compare_in_duckdb(con, f"SELECT * FROM read_csv('{files[0]}', header=true, "
                                     "auto_detect=true)", sql)
        expect(name, why is None, why)
    viz_sql = {
        "flights_per_month": 'SELECT Month, count(*) AS "Number of Flights" FROM viz GROUP BY Month',
        "flights_per_weekday": 'SELECT DayOfWeek AS Week, count(*) AS "Number of Flights" '
                               'FROM viz GROUP BY DayOfWeek',
        "flights_per_delay_group": 'SELECT DelayGroup, count(*) AS "Number of Flights" '
                                   'FROM viz GROUP BY DelayGroup',
        "distance_per_year": "SELECT Year, sum(Distance) AS Distance FROM viz GROUP BY Year",
        "airline_delay_group_count": 'SELECT Airline, DelayGroup, count(*) AS "Number of Flights" '
                                     'FROM viz GROUP BY Airline, DelayGroup',
    }
    def viz_csv(name):
        files = glob.glob(os.path.join(out_dir, "viz", name, "part-*.csv"))
        return files[0] if len(files) == 1 else None

    for name, sql in viz_sql.items():
        f = viz_csv(name)
        why = (compare(duck_table(con, f"SELECT * FROM read_csv('{f}', header=true)"),
                       oracle.table(sql)) if f else "want one part file (singleFile sink)")
        expect(f"viz.{name}", why is None, why)
    # the pivot's group columns are named by DelayGroup values; its per-airline
    # Total must equal the airline's row count
    f = viz_csv("airline_delay_group_pivot")
    totals = dict(oracle.table("SELECT Airline, count(*) FROM viz GROUP BY Airline").rows)
    got = dict(con.execute(f"SELECT Airline, Total FROM read_csv('{f}', header=true)").fetchall()) \
        if f else {}
    expect("viz.airline_delay_group_pivot", got == totals, "Total differs from airline counts")
    with open(os.path.join(out_dir, "check", "auc.json")) as f:
        auc = json.load(f)
    expect("ml.auc", all(auc[m] >= f for m, f in AUC_FLOOR.items()),
           f"AUC below {AUC_FLOOR}: {auc}")


# corpus steps checked against their DuckDB oracle
CORPUS_ORACLE = ("t1_token_stats", "d1_exact_dedup", "d2_minhash_lsh",
                 "d3_jaccard_verify", "s1_knn_brute", "c1_curate")
RECALL_FLOOR = 0.8
CURATE_BUDGET = 2000


def recall(ann, emb, k):
    """ANN neighbours against brute-force cosine kNN over the same vectors."""
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    iq, iv = ann.names.index("q_id"), ann.names.index("vec_id")
    got = {}
    for r in ann.rows:
        got.setdefault(r[iq], set()).add(r[iv])
    hits = total = 0
    for q, ids in got.items():
        sims = unit @ unit[q]
        sims[q] = -np.inf
        truth = set(np.argsort(-sims, kind="stable")[:k].tolist())
        hits += len(truth & ids)
        total += k
    return hits / total if total else 0.0


def check_corpus(oracle, in_dir, out_dir, expect, report):
    con = oracle.con
    with open(os.path.join(out_dir, "check", "corpus_oracle_sql.json")) as f:
        sqls = json.load(f)
    for q in CORPUS_ORACLE:
        why = compare(spark_table(os.path.join(out_dir, "check", "corpus", q + ".json")),
                      oracle.table(sqls[q]))
        expect(q, why is None, why)
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    all_ids = {d for d, _ in docs}

    def load(name):
        return spark_table(os.path.join(out_dir, "check", "corpus", name + ".json"))

    emb = np.array([np.asarray(v, dtype=np.float64) for v, in con.execute(
        "SELECT embedding FROM embeddings ORDER BY vec_id").fetchall()])
    r = recall(load("ann_ivf"), emb, 5)
    report["layers"]["index.recall_at_k"] = r
    expect("index.search", r >= RECALL_FLOOR, f"recall@5 {r:.3f} below {RECALL_FLOOR}")
    # curate shards: distinct known docs, at most one per exact-duplicate
    # text, token counts as t1 counts them, and each source's docs packed in
    # doc_id order into shards of the token budget: shard = (cumsum - 1) //
    # budget (the source-weighted sample may keep no document at all)
    shards = duck_table(con, f"SELECT doc_id, source, n_bpe_tokens, shard "
                             f"FROM read_parquet('{out_dir}/curate/shards/*.parquet')")
    t1 = load("t1_token_stats")
    tokens = {r[t1.names.index("doc_id")]: r[t1.names.index("n_bpe_tokens")] for r in t1.rows}
    text_of = dict(docs)
    ids = [r[shards.names.index("doc_id")] for r in shards.rows]
    ok = (len(ids) == len(set(ids)) and set(ids) <= all_ids
          and len({text_of[d] for d in ids}) == len(ids))
    cum = {}
    col = {n: i for i, n in enumerate(shards.names)}
    for r in sorted(shards.rows):  # doc_id order: doc_id sorts first
        d, src, n, shard = (r[col[c]] for c in ("doc_id", "source", "n_bpe_tokens", "shard"))
        cum[src] = cum.get(src, 0) + n
        ok = ok and n == tokens[d] and shard == (cum[src] - 1) // CURATE_BUDGET
    expect("cli.curate", ok, f"shard invariants ({len(ids)} docs)")


def check_cdc(oracle, in_dir, out_dir, expect, report):
    con = oracle.con
    with open(os.path.join(out_dir, "check", "cdc.json")) as f:
        cdc = json.load(f)
    con.execute(f"""CREATE OR REPLACE VIEW changes AS
        SELECT k, ver, ts, a, b, FALSE AS late, -1 AS batch FROM read_parquet('{in_dir}/state.parquet')
        UNION ALL
        SELECT k, ver, ts, a, b, late,
          CAST(regexp_extract(filename, '([0-9]+)\\.parquet$', 1) AS INTEGER) AS batch
        FROM read_parquet('{in_dir}/batches/*.parquet', filename=true)""")

    def latest(upto, keys=None):
        where = f"batch <= {upto}" + (f" AND k IN ({','.join(map(str, keys))})" if keys else "")
        return f"""SELECT k, ver, ts, a, b FROM (SELECT *, row_number() OVER (PARTITION BY k
            ORDER BY ver DESC, ts DESC, a DESC, b DESC) AS rn FROM changes WHERE {where})
            WHERE rn = 1"""

    def scd2(upto):
        return f"""SELECT k, ver, a, b, ts AS valid_from,
            lead(ts) OVER (PARTITION BY k ORDER BY ts, ver, a, b) AS valid_to,
            CAST(CASE WHEN lead(ts) OVER (PARTITION BY k ORDER BY ts, ver, a, b) IS NULL
                 THEN 1 ELSE 0 END AS INTEGER) AS is_current
            FROM changes WHERE NOT late AND batch <= {upto}"""

    last = cdc["applied"] - 1
    why = compare_in_duckdb(con, f"SELECT k, ver, ts, a, b FROM read_parquet('{cdc['upsert']}/**/*.parquet')",
                            latest(last))
    expect("streaming.upsert.final", why is None, why)
    why = compare_in_duckdb(con, f"SELECT k, ver, a, b, valid_from, valid_to, is_current "
                                 f"FROM read_parquet('{cdc['scd2']}/**/*.parquet')", scd2(last))
    expect("streaming.scd2.final", why is None, why)
    for i, r in enumerate(cdc["reads"]):
        keys = ",".join(map(str, r["keys"]))
        if r["kind"] == "point":
            want = duck_table(con, latest(r["after"], r["keys"]))
        else:
            t = f"make_timestamp({r['t']})"
            want = duck_table(con, f"""SELECT * FROM ({scd2(r['after'])}) WHERE k IN ({keys})
                AND valid_from <= {t} AND (valid_to IS NULL OR valid_to > {t})""")
        got = Table([c[0] for c in r["rows"]["columns"]], r["rows"]["rows"],
                    ["other"] * len(r["rows"]["columns"]))
        got = Table([n for n in got.names if n in want.names],
                    [tuple(row[got.names.index(n)] for n in got.names if n in want.names)
                     for row in got.rows], ["other"] * len(want.names))
        why = compare(got, want)
        expect(f"read[{i}].{r['kind']}", why is None, why)


CHECKS = {"airline": check_airline, "queries": check_star, "corpus": check_corpus,
          "cdc": check_cdc}
# (check, input subdirectory) per workload
PARTS = {"airline_star": (("airline", "airline"), ("queries", "star")),
         "corpus_cdc": (("corpus", "corpus"), ("cdc", "cdc"))}


def plant_wrong(out_dir):
    """Corrupts one value of one collected query output, so the self-test can
    see the check fail."""
    path = sorted(glob.glob(os.path.join(out_dir, "check", "queries", "*.json")))[0]
    with open(path) as f:
        d = json.load(f)
    row = d["rows"][0]
    for j, v in enumerate(row):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            row[j] = v + 1
            break
        if isinstance(v, str):
            row[j] = v + "x"
            break
    with open(path, "w") as f:
        json.dump(d, f)
