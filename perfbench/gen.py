"""Seeded input generators. The same seed gives the same inputs; the
program only ever sees the files written here."""
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CDC_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# Event time starts here and is dense: each file covers FILE_SPAN_US of
# event time, so the relay's 2-minute dedup window spans several files.
T0_US = 1704067200 * 1000000  # 2024-01-01T00:00:00Z
FILE_SPAN_US = 20 * 1000000


def cdc_files(seed, n_files, per_file, replay_share):
    """Event-time-ordered CDC corpus in landing order.

    Returns (files, replays): `files` is a list of (name, rows) where rows
    is a list of event dicts; a replay re-lands an earlier file's exact
    events one to three files after it, inside the dedup window, as the
    reference does after a crash between publish and checkpoint.
    """
    rng = random.Random(seed)
    base = []
    eid = 0
    for f in range(n_files):
        start = T0_US + f * FILE_SPAN_US
        offs = sorted(rng.sample(range(FILE_SPAN_US), per_file))
        rows = []
        for off in offs:
            rows.append({"event_id": eid, "ts": start + off,
                         "user_id": rng.randrange(1000),
                         "event_type": rng.choice(EVENT_TYPES),
                         "value": rng.randrange(100000) / 100.0,
                         "props": '{"k": %d}' % rng.randrange(100)})
            eid += 1
        base.append(rows)
    replayed = set(rng.sample(range(n_files - 3), int(n_files * replay_share)))
    order = []  # (position key, name, rows)
    for f, rows in enumerate(base):
        order.append(((f, 0), f"f{f:05d}", rows))
        if f in replayed:
            order.append(((f + rng.randint(1, 3), 1), f"f{f:05d}r", rows))
    order.sort(key=lambda x: x[0])
    files = [(name, rows) for _, name, rows in order]
    return files, sum(len(base[f]) for f in replayed)


def write_events(path, rows):
    cols = {k: [r[k] for r in rows] for k in CDC_SCHEMA.names}
    pq.write_table(pa.table(cols, schema=CDC_SCHEMA), path)


def stage_files(dirpath, files):
    """Write files in landing order, named so that name order is landing
    order, with strictly increasing mtimes: the file source admits files
    oldest first."""
    os.makedirs(dirpath, exist_ok=True)
    t = 1700000000
    for i, (name, rows) in enumerate(files):
        p = os.path.join(dirpath, f"{i:05d}-{name}.parquet")
        write_events(p, rows)
        os.utime(p, (t, t))
        t += 1


def copy_tag(text, cp):
    """Copy-tagged replica of a document: a token after every third word
    breaks cross-copy shingles, so copies are not near-duplicates."""
    out = []
    for i, w in enumerate(text.split(" ")):
        out.append(w)
        if i % 3 == 2:
            out.append(f"zq{cp}x{i}")
    return " ".join(out)


def doc_stream(seed, texts, n_files, per_file, recrawl_share):
    """Documents in landing order, one list per file. Copy-tagged replicas
    of the base texts plus exact re-crawls of earlier documents.

    Returns (files, survivors): survivors maps file index to the doc_ids
    whose text is seen there for the first time (the smallest doc_id of a
    text within its file)."""
    rng = random.Random(seed)
    files, survivors, seen = [], {}, set()
    doc_id = 0
    emitted = []
    for f in range(n_files):
        rows, first = [], []
        for _ in range(per_file):
            if emitted and rng.random() < recrawl_share:
                text = rng.choice(emitted)
            else:
                text = copy_tag(rng.choice(texts), rng.randrange(1, 1000))
            rows.append({"doc_id": doc_id, "text": text})
            h = hashlib.md5(text.encode()).hexdigest()
            if h not in seen:
                seen.add(h)
                first.append(doc_id)
            emitted.append(text)
            doc_id += 1
        files.append(rows)
        survivors[f] = first
    return files, survivors


def write_docs(path, rows):
    pq.write_table(pa.table({"doc_id": [r["doc_id"] for r in rows],
                             "text": [r["text"] for r in rows]},
                            schema=DOC_SCHEMA), path)


def relayout(src, dst, seed):
    """Seeded physical re-layout of a table directory: row order and file
    split change, contents do not, so query results are seed-independent."""
    rng = random.Random(seed)
    for name in sorted(os.listdir(src)):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, name))
        idx = list(range(t.num_rows))
        rng.shuffle(idx)
        t = t.take(pa.array(idx, pa.int64()))
        parts = min(t.num_rows, rng.randint(1, 4)) or 1
        out = os.path.join(dst, name)
        os.makedirs(out)
        step = -(-t.num_rows // parts)
        for i in range(parts):
            pq.write_table(t.slice(i * step, step),
                           os.path.join(out, f"part-{i:02d}.parquet"))
