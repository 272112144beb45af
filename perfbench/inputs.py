"""Stream inputs of the pipeline workload, made from the seed.

- Events: EVENT_COUNT consecutive events of the events table in (time,
  event_id) order, from a seeded start, in EVENT_BATCHES micro-batches of
  equal size.
- Documents: the whole documents table in a seeded order, stamped with
  seeded arrival times spread over ARRIVAL_MINUTES (less than the curation
  stream's one-hour watermark, so its content dedup is global), in
  DOC_BATCHES micro-batches.

Rows are written tab-separated, column 0 the micro-batch, a backslash
escaping the character after it (`\\n`, `\\t` for newline and tab).
"""
import math
import os
import random

EVENT_COUNT = 4000
EVENT_BATCHES = 3
DOC_BATCHES = 2
ARRIVAL_MINUTES = 45


def escape(v):
    s = repr(v) if isinstance(v, float) else str(v)
    return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")


def write(path, rows, batches):
    per = math.ceil(len(rows) / batches)
    with open(path, "w") as f:
        for i, r in enumerate(rows):
            f.write("\t".join(escape(v) for v in (i // per,) + tuple(r)) + "\n")


def make(con, seed, out_dir):
    """Write events.tsv and docs.tsv under out_dir; return the first and
    last event fed as (epoch µs, event_id) pairs."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = con.sql("SELECT count(*) FROM events").fetchone()[0]
    start = rnd.randrange(n - EVENT_COUNT + 1)
    events = con.sql(f"""
        SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id,
               event_type, value, props
        FROM events ORDER BY us, event_id
        LIMIT {EVENT_COUNT} OFFSET {start}""").fetchall()
    write(os.path.join(out_dir, "events.tsv"), events, EVENT_BATCHES)
    docs = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    rnd.shuffle(docs)
    arrivals = sorted(rnd.randrange(ARRIVAL_MINUTES * 60 * 10**6) for _ in docs)
    base = events[0][1]
    write(os.path.join(out_dir, "docs.tsv"),
          [(d, base + a, t) for (d, t), a in zip(docs, arrivals)], DOC_BATCHES)
    return {"events_from": [events[0][1], events[0][0]],
            "events_to": [events[-1][1], events[-1][0]]}
