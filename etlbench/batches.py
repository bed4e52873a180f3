"""Seeded inputs of the layout_epochs workload: a base slice of the corpus
documents, then per epoch a batch of new documents (unused corpus ids),
changed documents (live ids given extra vocabulary words), removed
documents, and the epoch's state rows. The program sees only these files.
"""
import hashlib
import random

# The base slice the layout is built from, and documents per epoch. An
# epoch touches 40 documents, near the reference's cap of 50 rows per run
# (`proyectos[:50]` at dags/scraping_etl.py:44, SURVEY.md section 6). The
# base is 300 documents so that the build, one epoch and compaction fit a
# run's time budget. The reference publishes no mix of new, changed and
# removed rows; 2:1:1 gives each of the three verbs a batch and lets the
# live set grow by 10 documents an epoch.
BASE_DOCS, NEW_DOCS, CHANGED_DOCS, DELETED_DOCS = 300, 20, 10, 10


def md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def make_batches(data, seed, epochs, out):
    """Writes base.parquet and epoch_<e>/{new,changed,deleted,state}.parquet
    under `out`. Returns, per epoch (0 = the base), the live documents and
    the ids removed so far, and the ingested text bytes per epoch."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{data}/documents.parquet') "
        "ORDER BY doc_id").fetchall()
    text = dict(docs)
    vocab = sorted({w for t in text.values() for w in t.split(" ")})
    rng = random.Random(seed)
    ids = sorted(text)
    rng.shuffle(ids)
    assert len(ids) >= BASE_DOCS + NEW_DOCS * epochs, "corpus too small"
    base, pool = ids[:BASE_DOCS], ids[BASE_DOCS:]
    live = {i: text[i] for i in base}

    def write(path, cols):
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table(cols), str(path))

    def docs_table(d):
        return {"doc_id": pa.array(sorted(d), pa.int64()),
                "text": [d[i] for i in sorted(d)]}

    write(out / "base.parquet", docs_table(live))
    history = [(dict(live), set())]
    removed = set()
    ingest_bytes = [0]
    for e in range(1, epochs + 1):
        new = {i: text[i] for i in pool[(e - 1) * NEW_DOCS:e * NEW_DOCS]}
        cand = sorted(live)
        changed_ids = rng.sample(cand, CHANGED_DOCS)
        deleted = sorted(rng.sample(sorted(set(cand) - set(changed_ids)),
                                    DELETED_DOCS))
        changed = {i: live[i] + " " + " ".join(
            rng.choice(vocab) for _ in range(rng.randint(1, 6)))
            for i in changed_ids}
        d = out / f"epoch_{e}"
        write(d / "new.parquet", docs_table(new))
        write(d / "changed.parquet", docs_table(changed))
        write(d / "deleted.parquet", {"doc_id": pa.array(deleted, pa.int64())})
        rows = sorted([(i, "insert", md5(t)) for i, t in new.items()] +
                      [(i, "update", md5(t)) for i, t in changed.items()] +
                      [(i, "delete", None) for i in deleted])
        write(d / "state.parquet", {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "op": [r[1] for r in rows],
            "row_hash": pa.array([r[2] for r in rows], pa.string()),
            "version": pa.array([e] * len(rows), pa.int64())})
        live.update(new)
        live.update(changed)
        for i in deleted:
            del live[i]
        removed |= set(deleted)
        history.append((dict(live), set(removed)))
        ingest_bytes.append(sum(len(t.encode()) for t in new.values()) +
                            sum(len(t.encode()) for t in changed.values()))
    return history, ingest_bytes
