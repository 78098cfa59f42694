"""Seeded documents corpus and its DuckDB oracle results.

The corpus has the `doc_id, text, lang, source, n_chars` schema that
`Transcripts.fromDocuments` and the curation chain read. Texts are
single-space lowercase words drawn from the 31-word vocabulary of the
engine's sf0.1 documents table (30 content words plus the `dup` marker),
with its 10-99 word length range. A fixed share of documents are
near-duplicates: an earlier document's text plus " dup".
"""
import json
import os
import random

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
DUP_MARK = "dup"
LANGS = ["en", "de", "fr", "es", "zh"]
SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 99
DUP_SHARE = 0.05


def documents(seed, n):
    """Rows (doc_id, text, lang, source, n_chars) for `n` documents."""
    rng = random.Random(seed)
    originals = []
    rows = []
    for i in range(n):
        if originals and rng.random() < DUP_SHARE:
            text = originals[rng.randrange(len(originals))] + " " + DUP_MARK
        else:
            k = rng.randint(MIN_WORDS, MAX_WORDS)
            text = " ".join(rng.choice(VOCAB) for _ in range(k))
            originals.append(text)
        rows.append((i, text, rng.choice(LANGS), "src%d" % (i % SOURCES), len(text)))
    return rows


def write_documents(path, seed, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = documents(seed, n)
    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_oracle(docs_path, sql_file, out_dir):
    """Runs the engine's DuckDB oracle SQL for kg_scored and kg_triples
    over `docs_path`; one parquet file per query in `out_dir`."""
    import duckdb

    with open(sql_file) as f:
        sql = json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                    % docs_path.replace("'", "''"))
        for name in ("kg_scored", "kg_triples"):
            out = os.path.join(out_dir, name + ".parquet")
            tmp = out + ".tmp"
            con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)"
                        % (sql[name], tmp.replace("'", "''")))
            os.replace(tmp, out)
    finally:
        con.close()
