"""Output checks of the benchmark, computed apart from the engine.

Query keys are compared with DuckDB running the key's oracle SQL over the
same parquet files: column names, column types, row count and values
(columns sorted by name, rows in file order), as tools/oracle_check.py
compares them. Pipeline outputs are compared with DuckDB aggregates over
exactly the inputs fed, or checked for properties the method must have.

Every check returns a list of failure messages; an empty list passes.
"""
import datetime
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# Spark's approx_count_distinct default relative standard deviation; an
# estimate further than three of them from the exact count fails.
HLL_RSD = 0.05


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    os.makedirs(tmp_dir, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def read_output(con, path):
    """(columns, types, rows) of a Spark parquet output, rows in file
    order (part files sorted by name)."""
    files = parquet_files(path)
    if not files:
        raise ValueError(f"no parquet files under {path}")
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    return rel.columns, [str(t) for t in rel.types], rel.fetchall()


def oracle_result(con, sql, cache_dir):
    """DuckDB's result for `sql`, cached per data set and SQL text in the
    build directory (it depends on neither the seed nor the engine)."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl") if cache_dir else None
    if path and os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rel = con.sql(sql)
    res = (rel.columns, [str(t) for t in rel.types], rel.fetchall())
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(res, f)
        os.replace(path + ".tmp", path)
    return res


def compare(ours, ref):
    """None when `ours` equals `ref` the oracle_check way, else why not."""
    o_cols, o_types, o_rows = ours
    r_cols, r_types, r_rows = ref
    if sorted(o_cols) != sorted(r_cols):
        return f"columns {sorted(o_cols)} != {sorted(r_cols)}"
    od, rd = dict(zip(o_cols, o_types)), dict(zip(r_cols, r_types))
    bad = {c: (od[c], rd[c]) for c in od if od[c] != rd[c]}
    if bad:
        return f"dtype mismatch {bad}"
    if len(o_rows) != len(r_rows):
        return f"rows {len(o_rows)} != {len(r_rows)}"
    o_ix = [o_cols.index(c) for c in sorted(o_cols)]
    r_ix = [r_cols.index(c) for c in sorted(r_cols)]
    for i, (orow, rrow) in enumerate(zip(o_rows, r_rows)):
        o = [canon(orow[j]) for j in o_ix]
        r = [canon(rrow[j]) for j in r_ix]
        if o != r:
            return f"row {i}: ours={o} ref={r}"
    return None


def check_hll(con, ours):
    """q_agg_approx_distinct: each estimate within 3 rsd of DuckDB's exact
    distinct users per event type."""
    cols, _, rows = ours
    exact = dict(con.sql(
        "SELECT event_type, count(DISTINCT user_id) FROM events "
        "GROUP BY event_type").fetchall())
    ti, ai = cols.index("event_type"), cols.index("approx_users")
    got = {r[ti]: r[ai] for r in rows}
    if set(got) != set(exact):
        return f"event types {sorted(got)} != {sorted(exact)}"
    for t, n in exact.items():
        if abs(got[t] - n) > 3 * HLL_RSD * n:
            return f"{t}: estimate {got[t]} outside 3 rsd of exact {n}"
    return None


def check_keys(con, result, cache_dir):
    """Every delivered key against its oracle; every warm result equal to
    its cold result."""
    fails = []
    for k in result["keys"]:
        key = k["key"]
        if k.get("cold_ms") is None:
            continue  # the run already counts it as failed
        try:
            ours = read_output(con, os.path.join(result["cold_dir"], key))
            if k.get("oracle"):
                msg = compare(ours, oracle_result(con, k["oracle"], cache_dir))
            elif key == "q_agg_approx_distinct":
                msg = check_hll(con, ours)
            else:
                msg = "no oracle and no property check"
            if msg:
                fails.append(f"{key}: {msg}")
            if result.get("warm_dir") and k.get("warm_ms"):
                warm = read_output(con, os.path.join(result["warm_dir"], key))
                msg = compare(warm, ours)
                if msg:
                    fails.append(f"{key}: warm differs from cold: {msg}")
        except Exception as e:  # noqa: BLE001 - any read error fails the key
            fails.append(f"{key}: {type(e).__name__}: {e}")
    return fails


# ---- pipeline ---------------------------------------------------------

def bulk_docs(path):
    """[(batchId, partition, _id, doc)] from an IndexWriter's bulk files."""
    out = []
    for f in glob.glob(os.path.join(path, "bulk-*.jsonl")):
        b, p = os.path.basename(f)[5:-6].split("-")
        with open(f) as fh:
            lines = [l for l in fh.read().split("\n") if l]
        for meta, doc in zip(lines[0::2], lines[1::2]):
            out.append((int(b), int(p), json.loads(meta)["index"]["_id"],
                        json.loads(doc)))
    return sorted(out, key=lambda x: (x[0], x[1]))


def last_delivered(path):
    """_id -> the document of its latest batch (idempotent upsert)."""
    last = {}
    for _, _, i, doc in bulk_docs(path):
        last[i] = doc
    return last


def table_rows(path, prefix):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, prefix + "*.jsonl"))):
        with open(f) as fh:
            rows += [json.loads(l) for l in fh if l.strip()]
    return rows


def epoch_us(iso):
    d = datetime.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    if d.tzinfo is None:
        d = d.replace(tzinfo=datetime.timezone.utc)
    return round(d.timestamp() * 1e6)


def close(a, b):
    return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))


def check_event_aggs(con, path, first, last):
    """The last delivered (hour, event_type) aggregate equals DuckDB's
    GROUP BY over exactly the events fed: those from `first` to `last`,
    both (epoch µs, event_id), in (time, event_id) order."""
    (lo_us, lo_id), (hi_us, hi_id) = first, last
    ref = {(h, t): (c, s) for h, t, c, s in con.sql(f"""
        SELECT epoch_us(date_trunc('hour', ts)), event_type, count(*), sum(value)
        FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                     event_id, event_type, value FROM events)
        WHERE (us > {lo_us} OR (us = {lo_us} AND event_id >= {lo_id}))
          AND (us < {hi_us} OR (us = {hi_us} AND event_id <= {hi_id}))
        GROUP BY ALL""").fetchall()}
    got = {(epoch_us(d["h"]), d["event_type"]): (d["cnt"], d["total"])
           for d in last_delivered(path).values()}
    if set(got) != set(ref):
        return [f"event aggregates: {len(set(got) ^ set(ref))} "
                f"(hour, type) groups differ of {len(ref)}"]
    fails = [f"event aggregate {k}: {got[k]} != {ref[k]}" for k in ref
             if got[k][0] != ref[k][0] or not close(got[k][1], ref[k][1])]
    return fails[:5]


TOKEN_COUNTS = """
    SELECT token, substring(token, 1, 1) AS prefix, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token"""


def check_suggest_batch(con, path):
    """The batch suggestion index equals DuckDB's token count."""
    ref = {t: (p, c) for t, p, c in con.sql(TOKEN_COUNTS).fetchall()}
    got = {d["token"]: (d["prefix"], d["cnt"])
           for d in last_delivered(path).values()}
    if got != ref:
        diff = sorted(set(got.items()) ^ set(ref.items()))[:3]
        return [f"suggestion index: {len(got)} tokens vs {len(ref)}; e.g. {diff}"]
    return []


def check_suggest_live(con, path, k=3):
    """The streamed top-k of the last micro-batch equals the top-k per
    prefix of DuckDB's token count over all documents fed."""
    ref = {(p, r): (t, c) for p, r, t, c in con.sql(f"""
        SELECT prefix, rank, token, cnt FROM (
          SELECT prefix, token, cnt, row_number() OVER (
            PARTITION BY prefix ORDER BY cnt DESC, token) AS rank
          FROM ({TOKEN_COUNTS}) WHERE length(token) > 0)
        WHERE rank <= {k}""").fetchall()}
    docs = bulk_docs(path)
    if not docs:
        return ["streamed suggestions: nothing delivered"]
    last = max(b for b, _, _, _ in docs)
    got = {(d["prefix"], d["rank"]): (d["token"], d["cnt"])
           for b, _, _, d in docs if b == last}
    if got != ref:
        diff = sorted(set(got.items()) ^ set(ref.items()))[:3]
        return [f"streamed top-{k}: {len(got)} entries vs {len(ref)}; e.g. {diff}"]
    return []


def check_curated(con, path, sql, cache_dir):
    """The curated corpus equals DuckDB running q_pipeline_curate's SQL."""
    cols, _, rows = oracle_result(con, sql, cache_dir)
    ref = sorted(tuple(canon(r[cols.index(c)]) for c in sorted(cols)) for r in rows)
    got_rows = table_rows(path, "curated_docs")
    got = sorted(tuple(canon(d.get(c)) for c in sorted(cols)) for d in got_rows)
    if got != ref:
        diff = sorted(set(got) ^ set(ref))[:3]
        return [f"curated corpus: {len(got)} rows vs {len(ref)}; e.g. {diff}"]
    return []


def check_admitted(con, path, quality_sql, cache_dir, threshold=0.95):
    """The curation stream admits no two documents with the same content
    hash and none below the quality threshold, with DuckDB's quality
    score; and every distinct qualifying content once."""
    cols, _, rows = oracle_result(con, quality_sql, cache_dir)
    quality = {r[cols.index("doc_id")]: r[cols.index("quality")] for r in rows}
    md5 = dict(con.sql("SELECT doc_id, md5(text) FROM documents").fetchall())
    got = table_rows(path, "admitted_docs")
    fails = []
    hashes = [md5[d["doc_id"]] for d in got]
    if len(set(hashes)) != len(hashes):
        fails.append(f"curation stream: {len(hashes) - len(set(hashes))} "
                     "duplicate content hashes admitted")
    low = [d["doc_id"] for d in got if quality[d["doc_id"]] < threshold]
    if low:
        fails.append(f"curation stream: {len(low)} documents below "
                     f"{threshold} admitted, e.g. {low[:3]}")
    off = [d["doc_id"] for d in got if not close(d["quality_r"], quality[d["doc_id"]])]
    if off:
        fails.append(f"curation stream: quality differs from DuckDB for {off[:3]}")
    want = len({md5[i] for i, q in quality.items() if q >= threshold})
    if len(set(hashes)) != want:
        fails.append(f"curation stream: {len(set(hashes))} distinct contents "
                     f"admitted, {want} qualify")
    return fails


def check_pipeline(con, result, cache_dir):
    fails = []
    oracle = result["oracle"]
    for i, r in enumerate(result["rounds"]):
        d = r["dir"]
        for msg in (check_event_aggs(con, os.path.join(d, "events"),
                                     result["events_from"], result["events_to"])
                    + check_suggest_batch(con, os.path.join(d, "suggest_batch"))
                    + check_suggest_live(con, os.path.join(d, "suggest_live"))
                    + check_curated(con, os.path.join(d, "curated"),
                                    oracle["q_pipeline_curate"], cache_dir)
                    + check_admitted(con, os.path.join(d, "admitted"),
                                     oracle["q_text_quality"], cache_dir)):
            fails.append(f"round {i}: {msg}")
    return fails


def check(result, data_dir, build_dir):
    con = connect(data_dir, os.path.join(build_dir, "duckdb_tmp"))
    cache = os.path.join(build_dir, "oracle", hashlib.sha256(
        os.path.realpath(data_dir).encode()).hexdigest()[:16])
    if result["workload"] == "pipeline":
        return check_pipeline(con, result, cache)
    return check_keys(con, result, cache)
