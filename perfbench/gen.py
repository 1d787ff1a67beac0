"""Deterministic input generators for the benchmark.

Two families:

* ``registry_tables`` writes the ten TPC-H-ish tables the query registry
  reads (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names, types and value
  vocabularies of the engine's test tables.  Its seed is fixed
  (``REGISTRY_SEED``) so that the expected result hashes stored in
  ``expected/query_hashes.tsv`` stay valid; the run's ``--seed`` only
  permutes the order in which the client sends the queries.
* ``etl_sources`` writes the five reference-shaped ELT sources for one
  seed (customers CSV, agents rows, daily call-log CSVs, daily social
  media JSON, daily web complaints parquet), messy on purpose, and
  computes the row counts the pipeline must produce from them.

The same arguments always give byte-identical files.
"""
import datetime as dt
import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGISTRY_SEED = 20240101
REGISTRY_SCALE = 0.001

MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
PART_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write_parquet(path, columns):
    pq.write_table(pa.table(columns), path)
    return os.path.getsize(path)


def _day_ms(start, days):
    base = np.datetime64(start, "ms")
    return base + days.astype("timedelta64[D]")


def registry_tables(out_dir, scale=REGISTRY_SCALE, seed=REGISTRY_SEED):
    """Write the registry's ten input tables; return the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(10, int(150000 * scale))
    n_supp = max(5, int(10000 * scale))
    n_part = max(20, int(200000 * scale))
    n_ord = max(50, int(1500000 * scale))
    n_li = max(200, int(6000000 * scale))
    n_ev = max(100, int(1000000 * scale))
    n_users = max(5, int(15000 * scale))
    n_docs = n_vecs = 500
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": REGIONS}
    t["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": [MKT_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pa.array(pk),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))}
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_day_ms("1995-01-01", rng.integers(0, 2404, n_ord)),
                                pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_day_ms("1995-01-02", rng.integers(0, 2498, n_li)),
                               pa.timestamp("ms"))}
    jan = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(jan + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # a near-duplicate: an earlier document with a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(DOC_WORDS[w] for w in rng.integers(0, len(DOC_WORDS), n)))
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))}
    v = rng.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32))}
    return sum(_write_parquet(os.path.join(out_dir, f"{name}.parquet"), cols)
               for name, cols in t.items())


# ---------------------------------------------------------------- ELT sources

CATEGORIES = ["billing", "network", "coverage", "device", "service"]
STATUSES = ["resolved", "open", "in progress", "escalated"]
CHANNELS = ["twitter", "facebook", "instagram", "linkedin"]
STATES = ["TX", "CA", "NY", "FL", "WA", "IL", "OH", "GA"]

# raw (messy) headers, as the reference's sources deliver them
CUSTOMER_HDR = ["customer_id", "name", "Gender", "DATE of biRTH", "signup_date",
                "email", "address"]
AGENT_HDR = ["iD", "NamE", "experience", "state"]
CALL_HDR = ["call ID", "customeR iD", "COMPLAINT_catego ry", "agent ID",
            "call_start_time", "call_end_time", "resolutionstatus",
            "callLogsGenerationDate"]
SOCIAL_HDR = ["complaint_id", "customeR iD", "COMPLAINT_catego ry", "agent ID",
              "resolutionstatus", "request_date", "resolution_date",
              "media_channel", "MediaComplaintGenerationDate"]
WEB_HDR = ["Column1", "request_id", "customeR iD", "COMPLAINT_catego ry",
           "agent ID", "resolutionstatus", "request_date", "resolution_date",
           "webFormGenerationDate"]

ETL_DAYS = 2          # day 1 is the full load, day 2 the incremental run
ETL_CUSTOMERS = 6000
ETL_AGENTS = 200
ETL_CALLS_PER_DAY = 10000
ETL_SOCIAL_PER_DAY = 5000
ETL_WEB_PER_DAY = 5000

# the characters Java's regex \s matches, which the engine's trim strips
_JAVA_SPACE = " \t\n\x0b\x0c\r"


def _pad(s, r):
    """Pad with whitespace; the style follows from the uniform draw r."""
    k = int(r * 1e6)
    return " " * (1 + k % 2) + s + ("\t" if k % 4 < 2 else "  ")


class _Mess:
    """Seeded mess injector shared by every source. `null_token` is how
    the format carries a NULL literal ("NULL" for CSV and JSON, a real
    null for parquet)."""

    def __init__(self, rng, null_token):
        self.rng = rng
        self.null_token = null_token

    def column(self, values, p_null=0.01, p_pad=0.02):
        r = self.rng.random(len(values))
        tok = self.null_token
        return [tok if x < p_null else _pad(v, x) if x < p_null + p_pad else v
                for v, x in zip(values, r)]

    def rows(self, columns, p_dup=0.01, p_allnull=0.003):
        """Zip columns into rows, adding exact duplicates and all-null rows
        at seeded positions."""
        r = self.rng.random(len(columns[0]))
        empty = [None] * len(columns)
        out = []
        for row, x in zip(zip(*columns), r):
            out.append(row)
            if x < p_dup:
                out.append(row)
            elif x < p_dup + p_allnull:
                out.append(empty)
        return out

    def fk(self, ids, n, p_orphan, orphan_prefix):
        pick = self.rng.integers(0, len(ids), n)
        orphan = self.rng.random(n) < p_orphan
        num = self.rng.integers(0, 10**6, n)
        return [f"{orphan_prefix}{k}" if o else ids[i] for i, o, k in zip(pick, orphan, num)]

    def choice(self, values, n):
        return [values[i] for i in self.rng.integers(0, len(values), n)]


@functools.lru_cache(maxsize=None)
def _date(day):
    return (dt.date(2025, 3, 1) + dt.timedelta(days=day)).isoformat()


def _ts(day, sec):
    return f"{_date(day)} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"


def _write_csv(path, header, rows):
    # a CSV cell carries NULL as the literal "NULL" and missing as empty
    with open(path, "w", newline="\n") as f:
        f.write(",".join(header) + "\n")
        for row in rows:
            f.write(",".join("" if v is None else v for v in row) + "\n")


def _write_json(path, header, rows):
    with open(path, "w", newline="\n") as f:
        for row in rows:
            f.write(json.dumps({h: v for h, v in zip(header, row) if v is not None},
                               separators=(",", ":")) + "\n")


def _as_read(rows, fmt):
    """Rows as Spark's reader delivers them: CSV narrows "NULL"/"" to null;
    JSON and parquet keep "NULL" as a string."""
    if fmt != "csv":
        return [tuple(r) for r in rows]
    return [tuple(None if v in (None, "", "NULL") else v for v in r) for r in rows]


def clean_rows(rows):
    """The pipeline's clean step: drop all-null rows, exact dedup, trim."""
    kept = [r for r in rows if any(v is not None for v in r)]
    deduped = list(dict.fromkeys(kept))
    return [tuple(None if v is None else v.strip(_JAVA_SPACE) for v in r) for r in deduped]


def etl_sources(out_dir, seed, days=ETL_DAYS, customers=ETL_CUSTOMERS,
                agents=ETL_AGENTS, calls=ETL_CALLS_PER_DAY,
                social=ETL_SOCIAL_PER_DAY, web=ETL_WEB_PER_DAY):
    """Write the ELT sources for one seed and return their manifest.

    The manifest lists every source with its file, and the counts the
    pipeline must produce: rows per staging table, rows per dimension and
    fact after each run kind, and the outcome of every key check."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    csv_mess, json_mess, pq_mess = _Mess(rng, "NULL"), _Mess(rng, "NULL"), _Mess(rng, None)
    raw = {}

    cust_ids = [f"c{i:06d}" for i in range(customers)]
    n = customers
    cols = [cust_ids, csv_mess.column([f"Name {c}" for c in cust_ids]),
            csv_mess.choice(["F", "M"], n),
            csv_mess.column([_date(-int(d)) for d in rng.integers(7000, 25000, n)]),
            [_date(-int(d)) for d in rng.integers(0, 2000, n)],
            csv_mess.column([f"{c}@example.com" for c in cust_ids]),
            csv_mess.column([f"{k} Main St" for k in rng.integers(1, 999, n)])]
    cust = csv_mess.rows(cols)
    # a few keys again with a differently padded name: they survive dedup
    # and collide after trim (the reference's duplicated dim key case)
    again = sorted(set(int(i) for i in rng.integers(0, n, n // 500)))
    cust += [(cust_ids[i], _pad(f"Name {cust_ids[i]}", 0.5)) + tuple(c[i] for c in cols[2:])
             for i in again]
    raw["customers"] = ("csv", CUSTOMER_HDR, cust)
    _write_csv(os.path.join(out_dir, "customers.csv"), CUSTOMER_HDR, cust)

    agent_ids = [f"a{i:04d}" for i in range(agents)]
    cols = [agent_ids, csv_mess.column([f"Agent {a}" for a in agent_ids], p_null=0.0),
            [str(k) for k in rng.integers(0, 20, agents)], csv_mess.choice(STATES, agents)]
    raw["agents"] = ("rows", AGENT_HDR, csv_mess.rows(cols, p_allnull=0.0))
    with open(os.path.join(out_dir, "agents.json"), "w") as f:
        json.dump(raw["agents"][2], f, separators=(",", ":"))

    for day in range(1, days + 1):
        n = calls
        start = rng.integers(0, 86000, n)
        dur = rng.integers(30, 400, n)
        cols = [[f"k{day}_{i}" for i in range(n)],
                csv_mess.column(csv_mess.fk(cust_ids, n, 0.02, "cx")),
                csv_mess.column(csv_mess.choice(CATEGORIES, n)),
                csv_mess.column(csv_mess.fk(agent_ids, n, 0.01, "ax")),
                [_ts(day, int(t)) for t in start], [_ts(day, int(t)) for t in start + dur],
                csv_mess.column(csv_mess.choice(STATUSES, n)), [_date(day)] * n]
        name = f"call_logs_d{day}"
        raw[name] = ("csv", CALL_HDR, csv_mess.rows(cols))
        _write_csv(os.path.join(out_dir, f"{name}.csv"), CALL_HDR, raw[name][2])

        n = social
        cols = [[f"s{day}_{i}" for i in range(n)],
                json_mess.column(json_mess.fk(cust_ids, n, 0.02, "cx")),
                json_mess.column(json_mess.choice(CATEGORIES, n)),
                json_mess.column(json_mess.fk(agent_ids, n, 0.01, "ax")),
                json_mess.choice(STATUSES, n), [_date(day - 1)] * n, [_date(day)] * n,
                json_mess.column(json_mess.choice(CHANNELS, n)), [_date(day)] * n]
        name = f"social_medias_d{day}"
        raw[name] = ("json", SOCIAL_HDR, json_mess.rows(cols))
        _write_json(os.path.join(out_dir, f"{name}.json"), SOCIAL_HDR, raw[name][2])

        n = web
        cols = [[str(i) for i in range(n)], [f"w{day}_{i}" for i in range(n)],
                pq_mess.column(pq_mess.fk(cust_ids, n, 0.02, "cx")),
                pq_mess.column(pq_mess.choice(CATEGORIES, n)),
                pq_mess.column(pq_mess.fk(agent_ids, n, 0.01, "ax")),
                pq_mess.choice(STATUSES, n), [_date(day - 2)] * n, [_date(day)] * n,
                [_date(day)] * n]
        name = f"web_complaints_d{day}"
        raw[name] = ("parquet", WEB_HDR, pq_mess.rows(cols))
        _write_parquet(os.path.join(out_dir, f"{name}.parquet"),
                       {h: pa.array([r[i] for r in raw[name][2]], pa.string())
                        for i, h in enumerate(WEB_HDR)})

    return _manifest(out_dir, raw, days)


FACTS = {  # fact table -> (source prefix, key column, its index)
    "fact_call_logs": ("call_logs", "call_id", 0),
    "fact_social_media_complaints": ("social_medias", "complaint_id", 0),
    "fact_web_complaints": ("web_complaints", "request_id", 1),
}


def _fact_fk(prefix):
    """Column indexes of (customer id, agent id) in a raw fact row."""
    return (2, 4) if prefix == "web_complaints" else (1, 3)


def _manifest(out_dir, raw, days):
    staging = {name: clean_rows(_as_read(rows, fmt)) for name, (fmt, _, rows) in raw.items()}
    cust_keys, agent_keys = {}, {}
    for r in staging["customers"]:
        cust_keys[r[0]] = cust_keys.get(r[0], 0) + 1
    for r in staging["agents"]:
        agent_keys[r[0]] = agent_keys.get(r[0], 0) + 1

    def star(upto):
        counts = {"dim_customers": len(staging["customers"]),
                  "dim_agents": len(staging["agents"])}
        checks = {}
        for fact, (prefix, key, pk) in FACTS.items():
            ci, ai = _fact_fk(prefix)
            rows = [r for d in range(1, upto + 1) for r in staging[f"{prefix}_d{d}"]]
            joined = []
            for r in rows:
                mult = cust_keys.get(r[ci], 0) * agent_keys.get(r[ai], 0)
                joined.extend([r] * mult)
            counts[fact] = len(joined)
            keys = [r[pk] for r in joined]
            present = [k for k in keys if k is not None]
            checks[f"{fact}.{key}.unique"] = len(set(present)) == len(present)
            checks[f"{fact}.{key}.not_null"] = len(present) == len(keys)
            checks[f"{fact}.customer_id.not_null"] = True   # inner joins drop null keys
            checks[f"{fact}.agent_id.not_null"] = True
        for dim, key, rows in (("dim_customers", "customer_id", staging["customers"]),
                               ("dim_agents", "agent_id", staging["agents"])):
            present = [r[0] for r in rows if r[0] is not None]
            checks[f"{dim}.{key}.unique"] = len(set(present)) == len(present)
            checks[f"{dim}.{key}.not_null"] = len(present) == len(rows)
        return counts, checks

    full_counts, _ = star(days - 1)
    incr_counts, incr_checks = star(days)
    files = {"customers": "customers.csv", "agents": "agents.json"}
    for d in range(1, days + 1):
        files[f"call_logs_d{d}"] = f"call_logs_d{d}.csv"
        files[f"social_medias_d{d}"] = f"social_medias_d{d}.json"
        files[f"web_complaints_d{d}"] = f"web_complaints_d{d}.parquet"
    full_sources = [n for n in files if not n.endswith(f"_d{days}")]
    return {
        "days": days,
        "files": files,
        "full_sources": full_sources,
        "all_sources": list(files),
        "source_rows": sum(len(rows) for _, _, rows in raw.values()),
        "full_source_rows": sum(len(raw[n][2]) for n in full_sources),
        "input_bytes": sum(os.path.getsize(os.path.join(out_dir, f)) for f in files.values()),
        "staging_rows": {n: len(r) for n, r in staging.items()},
        "star_rows_full": full_counts,
        "star_rows_incremental": incr_counts,
        "checks": incr_checks,
    }


def write_expected_tsv(path, manifest):
    """Flatten a manifest into ``key<TAB>value`` lines for the JVM side."""
    lines = [f"days\t{manifest['days']}",
             f"full_source_rows\t{manifest['full_source_rows']}",
             f"input_bytes\t{manifest['input_bytes']}"]
    lines += [f"file.{k}\t{v}" for k, v in manifest["files"].items()]
    lines += [f"staging.{k}\t{v}" for k, v in manifest["staging_rows"].items()]
    lines += [f"star_full.{k}\t{v}" for k, v in manifest["star_rows_full"].items()]
    lines += [f"star_incremental.{k}\t{v}" for k, v in manifest["star_rows_incremental"].items()]
    lines += [f"check.{k}\t{str(v).lower()}" for k, v in manifest["checks"].items()]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
