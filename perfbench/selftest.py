#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Builds a small data set with DuckDB, writes correct outputs and
deliberately wrong ones the way the harness delivers them, and runs the
checks of perfbench/checks.py on each. Exits 0 only if every correct
output passes and every wrong one fails:

- a key output with one altered value,
- a key output with one dropped row,
- a warm result that differs from its cold result,
- an event-aggregate stream whose last delivered value is stale,
- a streamed top-k that lags the documents fed,
- a curation stream that admits a duplicate and a low-quality document.

Usage: python3 perfbench/selftest.py [<scratch dir>]
"""
import json
import os
import shutil
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402

SQL = ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(value) AS total "
       "FROM events GROUP BY event_type ORDER BY event_type")
QUALITY_SQL = ("SELECT doc_id, CASE WHEN text LIKE '%good%' THEN 0.99::DOUBLE "
               "ELSE 0.5::DOUBLE END AS quality FROM documents ORDER BY doc_id")
H = 3600 * 10**6


def make_data(con, d):
    con.execute(f"""COPY (SELECT i AS event_id,
        TIMESTAMP '2024-01-01 00:00:00' + to_minutes(i * 7) AS ts,
        i % 5 AS user_id, ['click', 'view', 'buy'][i % 3 + 1] AS event_type,
        CAST((i % 11) * 1.5 AS DOUBLE) AS value, '{{}}' AS props
        FROM range(200) t(i)) TO '{d}/events.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (SELECT * FROM (VALUES
        (1, 'good apple pie'), (2, 'good apple pie'), (3, 'the the a'),
        (4, 'good banana bread'), (5, 'apple tart')) t(doc_id, text))
        TO '{d}/documents.parquet' (FORMAT PARQUET)""")


def write_parquet(con, sql, path):
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-00000.parquet' (FORMAT PARQUET)")


def write_bulk(path, batches, id_of):
    """batches: list of lists of docs; one bulk file per batch."""
    os.makedirs(path, exist_ok=True)
    for b, docs in enumerate(batches):
        with open(os.path.join(path, f"bulk-{b}-0.jsonl"), "w") as f:
            for doc in docs:
                f.write(json.dumps({"index": {"_index": "x", "_id": id_of(doc)}}) + "\n")
                f.write(json.dumps(doc) + "\n")


def iso(us):
    import datetime
    return datetime.datetime.fromtimestamp(
        us / 1e6, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.000Z")


def main(base=None):
    base = base or tempfile.mkdtemp()
    shutil.rmtree(base, ignore_errors=True)
    data, out = os.path.join(base, "data"), os.path.join(base, "out")
    os.makedirs(data)
    boot = checks.duckdb.connect()
    make_data(boot, data)
    con = checks.connect(data, os.path.join(base, "tmp"))
    results = []

    def expect(name, fails, should_fail):
        ok = bool(fails) == should_fail
        results.append(ok)
        verdict = "caught" if fails else "passed"
        print(f"{'ok  ' if ok else 'BAD '} {name}: {verdict}"
              + (f" ({fails[0][:100]})" if fails else ""))

    # key outputs: correct, one altered value, one dropped row, warm != cold
    write_parquet(con, SQL, f"{out}/cold/q_fix")
    write_parquet(con, SQL, f"{out}/warm/q_fix")
    write_parquet(con, SQL.replace("count(*)", "count(*) + (event_type = 'view')::INT"),
                  f"{out}/altered/q_fix")
    write_parquet(con, SQL.replace("ORDER BY", "HAVING event_type <> 'buy' ORDER BY"),
                  f"{out}/dropped/q_fix")
    key = [{"key": "q_fix", "cold_ms": 1.0, "warm_ms": [1.0], "oracle": SQL}]
    res = lambda cold, warm: {"keys": key, "cold_dir": f"{out}/{cold}",  # noqa: E731
                              "warm_dir": f"{out}/{warm}"}
    expect("correct key output", checks.check_keys(con, res("cold", "warm"), None), False)
    expect("one altered value", checks.check_keys(con, res("altered", "altered"), None), True)
    expect("one dropped row", checks.check_keys(con, res("dropped", "dropped"), None), True)
    expect("warm differs from cold", checks.check_keys(con, res("cold", "altered"), None), True)

    # event aggregates: correct, and stale (a later update never delivered)
    lo, hi = (1704067200 * 10**6, 0), (1704067200 * 10**6 + 30 * H, 0)
    rows = con.sql(f"""SELECT epoch_us(date_trunc('hour', ts)) h, event_type,
        count(*) cnt, sum(value) total FROM events GROUP BY ALL ORDER BY h""").fetchall()
    docs = [{"h": iso(h), "event_type": t, "cnt": c, "total": s,
             "agg_id": f"{h}|{t}"} for h, t, c, s in rows]
    stale = [dict(d) for d in docs]
    stale[-1]["cnt"] -= 1
    aid = lambda d: d["agg_id"]  # noqa: E731
    write_bulk(f"{out}/events_ok", [docs[:10], docs[10:]], aid)
    write_bulk(f"{out}/events_stale", [docs, stale[-1:]], aid)
    expect("correct event aggregates",
           checks.check_event_aggs(con, f"{out}/events_ok", lo, hi), False)
    expect("stale stream aggregate",
           checks.check_event_aggs(con, f"{out}/events_stale", lo, hi), True)

    # streamed top-k: the last batch must reflect every document fed
    top = con.sql(f"""SELECT prefix, token, cnt, row_number() OVER (
        PARTITION BY prefix ORDER BY cnt DESC, token) AS rank
        FROM ({checks.TOKEN_COUNTS}) WHERE length(token) > 0
        QUALIFY rank <= 3""").fetchall()
    top_docs = [{"prefix": p, "token": t, "cnt": c, "rank": r,
                 "sug_id": f"{p}|{r}"} for p, t, c, r in top]
    lagging = [dict(d, cnt=d["cnt"] - 1) if d["token"] == "good" else d
               for d in top_docs]
    sid = lambda d: d["sug_id"]  # noqa: E731
    write_bulk(f"{out}/top_ok", [lagging, top_docs], sid)
    write_bulk(f"{out}/top_lag", [top_docs, lagging], sid)
    expect("correct streamed top-k", checks.check_suggest_live(con, f"{out}/top_ok"), False)
    expect("lagging streamed top-k", checks.check_suggest_live(con, f"{out}/top_lag"), True)

    # curation stream: one copy of each qualifying content, nothing else
    def admitted(name, ids):
        os.makedirs(f"{out}/{name}", exist_ok=True)
        with open(f"{out}/{name}/admitted_docs-b0-0.jsonl", "w") as f:
            for i, q in ids:
                f.write(json.dumps({"doc_id": i, "ts": "x", "quality_r": q}) + "\n")
    admitted("adm_ok", [(1, 0.99), (4, 0.99)])
    admitted("adm_dup", [(1, 0.99), (2, 0.99), (4, 0.99)])
    admitted("adm_low", [(1, 0.99), (4, 0.99), (5, 0.5)])
    for name, bad in (("adm_ok", False), ("adm_dup", True), ("adm_low", True)):
        expect(f"curation stream {name}",
               checks.check_admitted(con, f"{out}/{name}", QUALITY_SQL, None), bad)

    print(f"selftest: {sum(results)}/{len(results)} as expected")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else None))
