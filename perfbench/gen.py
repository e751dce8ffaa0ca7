"""Seeded input generators for the four benchmark workloads.

Every generator takes a numpy Generator built from the run's seed, writes
the parquet (and YAML) the engine reads under ``<work>/input``, and writes
the ground truth the output checks need under ``<work>/truth``.  The engine
never sees ``truth``.  Sizes are constants here so that a run's inputs
depend on the seed alone.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------ sizes

MIGRATE_ROWS = 60_000        # migrate-batch source rows
MIGRATE_FILES = 4
MIGRATE_WARM_FILES = 2        # migrate-batch warm-up config reads this many source files
ROWS_PER_KEEP_LAST_KEY = 4    # keep_last: about 4 rows per PK
STREAM_PAGES = 22             # migrate-stream: one file = one page = one batch
STREAM_ROWS_PER_PAGE = 1_000
STREAM_WARM_PAGES = 8         # migrate-stream warm-up backlog drained in each setup
TARGET_SEED_SHARE = 0.5       # insert_new: share of PKs already in the target
CURATE_DOCS = 1_000
CURATE_WARM_DOCS = 500        # curate warm-up corpus: the first docs of the measured one
CURATE_FILES = 8
NEARDUP_SEED_DOCS = 1_000
NEARDUP_BATCHES = 12
NEARDUP_DOCS_PER_BATCH = 20
WARM_PAGES = 1               # neardup-stream warm-up backlog, in pages
NEARDUP_SHARE = 0.3           # streamed docs that near-duplicate an earlier doc

# curate corpus shares (the remainder is unique gate-passing English text)
CURATE_SHARES = {"exact_dup": 0.10, "near_dup": 0.15, "pii": 0.10,
                 "pii_twin": 0.05, "gate_fail": 0.10}

INT32_MIN = -(1 << 31)


def java_hash_code(s):
    """JVM String.hashCode of an ASCII string, as a signed 32-bit int."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _write_parts(table, dirpath, nfiles):
    os.makedirs(dirpath, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, nfiles + 1).astype(int)
    for i in range(nfiles):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(dirpath, f"part-{i:05d}.parquet"))


# ------------------------------------------------- migration-shaped rows

def _rows(rng, n, id_offset=0):
    """The migration-shaped ``rows`` table: FIXTURES A1 (partition and
    clustering keys, payload), A2 (my_col for the hashCode column), A4
    (counter PK and counters, some null) and A5 (row TTL) in one table."""
    ids = np.arange(id_offset, id_offset + n, dtype=np.int64)
    part = rng.integers(0, 64, n)
    my_col_n = rng.integers(0, 1 << 30, n)
    hit = rng.integers(0, 1000, n).astype(np.int64)
    view = rng.integers(0, 1000, n).astype(np.int64)
    hit_null = rng.random(n) < 0.05
    cols = {
        "id": ids,
        "part_key_col_1": np.char.add("p", np.char.zfill(part.astype(str), 3)),
        "clust_key_col_1": rng.integers(0, 8, n).astype(np.int32),
        "clust_key_col_2": rng.integers(0, 20_000, n).astype(np.int32),
        "payload_col": np.char.add("payload-", my_col_n.astype(str)),
        "my_col": np.char.add("k", my_col_n.astype(str)),
        "qty": rng.integers(1, 24, n).astype(np.int32),
        "ck": rng.integers(1, 100, n).astype(np.int32),
        "kl_key": (ids // ROWS_PER_KEEP_LAST_KEY).astype(np.int64),
        "version": rng.permutation(n).astype(np.int32),
        "tile_id": np.char.add("t", np.char.zfill(rng.integers(0, 500, n).astype(str), 3)),
        "day": rng.integers(0, 30, n).astype(np.int32),
        "hit_count": pa.array(hit, mask=hit_null),
        "view_count": view,
        "row_ttl_value": rng.integers(0, 86_400, n).astype(np.int32),
    }
    return pa.table({k: (v if isinstance(v, pa.Array) else pa.array(v))
                     for k, v in cols.items()})


def _hash_truth(table):
    """JVM-exact ``(short)(abs(my_col.hashCode()) % 32)`` per id — the one
    expression that needs JVM string semantics, handed to the check as a
    lookup table."""
    out = []
    for s in table.column("my_col").to_pylist():
        h = java_hash_code(s)
        a = h if h == INT32_MIN else abs(h)
        out.append(0 if a == INT32_MIN else a % 32)
    return pa.table({"id": table.column("id"),
                     "my_col_hash": pa.array(out, pa.int16())})


def _seed_target(rng, rows, dirpath):
    """insert_new's pre-seeded target: TARGET_SEED_SHARE of the PKs."""
    keep = rng.random(rows.num_rows) < TARGET_SEED_SHARE
    _write_parts(rows.filter(pa.array(keep)), dirpath, 2)


def _write_configs(inp, work, template, warm_files):
    """The measured config over ``src`` and a warm-up config over a copy of
    its first ``warm_files`` files, both writing the sample target."""
    wdir = os.path.join(inp, "warm_src", "rows.parquet")
    os.makedirs(wdir)
    for i in range(warm_files):
        name = f"part-{i:05d}.parquet"
        shutil.copy(os.path.join(inp, "src", "rows.parquet", name), os.path.join(wdir, name))
    for name, src in (("config.yaml", "src"), ("warm_config.yaml", "warm_src")):
        with open(os.path.join(inp, name), "w") as f:
            f.write(template.format(src=os.path.join(inp, src),
                                    tgt=os.path.join(work, "sample", "target")))


def migrate_batch(rng, work):
    inp = os.path.join(work, "input")
    rows = _rows(rng, MIGRATE_ROWS)
    _write_parts(rows, os.path.join(inp, "src", "rows.parquet"), MIGRATE_FILES)
    _seed_target(rng, rows, os.path.join(inp, "target_seed", "insert_new.parquet"))
    _write(_hash_truth(rows), os.path.join(work, "truth", "my_col_hash.parquet"))
    _write_configs(inp, work, MIGRATE_BATCH_YAML, MIGRATE_WARM_FILES)
    return {"source_rows": MIGRATE_ROWS, "tables": 5, "source_files": MIGRATE_FILES,
            "target_overlap": TARGET_SEED_SHARE,
            "rows_per_keep_last_key": ROWS_PER_KEEP_LAST_KEY,
            "measured_rows": MIGRATE_ROWS * 5}


MIGRATE_BATCH_YAML = """\
sourceDB:
  format: parquet
  path: {src}
targetDB:
  format: parquet
  path: {tgt}
parallel: false
tableMigrations:
  - tableName: rows
    targetTableName: pushdown_calc
    simulateOnly: false
    whereClause: "clust_key_col_1 IN (1, 2, 3) AND clust_key_col_2 >= 3000"
    filters:
      - type: FieldValueFilter
        expression: "row.clust_key_col_2 < 10000 && row.qty > 2"
    calculatedColumns:
      - targetColumn: my_col_hash
        expression: "(short)(abs(row.my_col.hashCode()) % 32)"
    ttl:
      ttlColumn: row_ttl_value
      sourceTableTtl: 86400
      targetTableTtl: 604800
  - tableName: rows
    targetTableName: insert_new
    simulateOnly: false
    writeMode: insertIfNotExists
    pkColumns: [id]
  - tableName: rows
    targetTableName: keep_last
    simulateOnly: false
    writeMode: upsert
    pkColumns: [kl_key]
    orderingColumns: [version]
  - tableName: rows
    targetTableName: counter
    simulateOnly: false
    writeMode: counter
    pkColumns: [tile_id, day]
    counterColumns: [hit_count, view_count]
  - tableName: rows
    targetTableName: interp_calc
    simulateOnly: false
    calculatedColumns:
      - targetColumn: loop_sum
        expression: "var s = 0; var i = 0; while (i < row.qty) {{ s = s + row.ck * i; i = i + 1; }} return s;"
"""


def migrate_stream(rng, work):
    inp = os.path.join(work, "input")
    n = STREAM_PAGES * STREAM_ROWS_PER_PAGE
    rows = _rows(rng, n)
    _write_parts(rows, os.path.join(inp, "src", "rows.parquet"), STREAM_PAGES)
    _seed_target(rng, rows, os.path.join(inp, "target_seed", "insert_new.parquet"))
    _write_configs(inp, work, MIGRATE_STREAM_YAML, STREAM_WARM_PAGES)
    return {"source_rows": n, "pages": STREAM_PAGES, "rows_per_page": STREAM_ROWS_PER_PAGE,
            "target_overlap": TARGET_SEED_SHARE,
            "state_rows_seeded": "~%d" % int(n * TARGET_SEED_SHARE),
            "measured_rows": n}


MIGRATE_STREAM_YAML = """\
sourceDB:
  format: parquet
  path: {src}
targetDB:
  format: parquet
  path: {tgt}
tableMigrations:
  - tableName: rows
    targetTableName: insert_new
    simulateOnly: false
    writeMode: insertIfNotExists
    pkColumns: [id]
    pageSize: 1
"""


# ---------------------------------------------------------- text corpora

_STOP = ["the", "of", "and", "to", "in", "is", "that", "for", "with", "as",
         "on", "was", "by", "at", "from", "this", "are", "be", "or", "an"]
_STOP_DE = ["der", "die", "und", "in", "den", "von", "zu", "das", "mit",
            "sich", "des", "auf", "ist", "im", "dem", "nicht", "ein", "eine"]
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da", "ge",
        "bu", "zo", "fi", "ha", "je", "qu", "wy", "xe", "po", "ma", "ri",
        "to", "le", "na", "se", "ko", "du", "fa", "go", "hi", "lu"]


def _vocab(rng, size):
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYL[i] for i in rng.integers(0, len(_SYL), k)))
    return sorted(words)


class _Text:
    """Pseudo-English: every content word is preceded by a stopword, so
    stopword language id reads `en`, word bigrams almost never repeat and
    two independent texts share few 5-character shingles."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = _vocab(rng, 6000)

    def words(self, n, stop=_STOP):
        out = []
        for _ in range(n // 2):
            out.append(stop[int(self.rng.integers(0, len(stop)))])
            out.append(self.vocab[int(self.rng.integers(0, len(self.vocab)))])
        return out

    def variant(self, words):
        """One content word replaced: 5-shingle Jaccard about 0.95 to the
        original, and about 0.9 between two variants of one original."""
        w = list(words)
        i = 2 * int(self.rng.integers(0, len(w) // 2)) + 1
        w[i] = self.vocab[int(self.rng.integers(0, len(self.vocab)))] + "x"
        return w


_PAGE_HEAD = ("<html><head><title>page</title></head><body><nav><ul>"
              "<li><a href=\"/\">Home</a></li><li><a href=\"/all\">All pages</a></li>"
              "</ul></nav><article><h1>Article</h1>")
_PAGE_TAIL = ("</article><footer><p><a href=\"/t\">Terms of service</a> "
              "<a href=\"/p\">Privacy notice</a></p></footer></body></html>")


def _page(paragraphs):
    return _PAGE_HEAD + "".join("<p>" + p + "</p>" for p in paragraphs) + _PAGE_TAIL


def _paras(words, per=20):
    return [" ".join(words[i:i + per]) for i in range(0, len(words), per)]


def curate(rng, work):
    """HTML corpus for the web pipeline.  Ground truth per doc: its cluster
    (docs whose redacted main text is the same text or a one-word variant
    of it) and whether it passes the quality gate.  The pipeline keeps the
    lowest id of every gate-passing cluster; originals always take the
    lowest id of their cluster."""
    text = _Text(rng)
    n = CURATE_DOCS
    kinds = list(CURATE_SHARES)
    plan = [k for k in kinds for _ in range(int(n * CURATE_SHARES[k]))]
    plan += ["unique"] * (n - len(plan))
    plan = [plan[i] for i in rng.permutation(len(plan))]
    pages, truth = [], []
    originals = []        # (cluster, paragraphs, has_pii) of gate-passing originals
    size = {}
    for doc_id, kind in enumerate(plan, start=1):
        pick = [o for o in originals if size[o[0]] < 4
                and (kind != "pii_twin" or o[2])]
        if kind in ("exact_dup", "near_dup", "pii_twin") and not pick:
            kind = "unique"
        passes = kind != "gate_fail"
        cluster = doc_id
        if kind in ("unique", "pii"):
            body = _paras(text.words(80))
            if kind == "pii":
                body.append(_pii(rng))
            originals.append((doc_id, body, kind == "pii"))
        elif kind == "gate_fail":
            if doc_id % 2:
                spam = " ".join(["buy cheap pills now"] * 20)
                body = [spam, spam]
            else:
                body = _paras(text.words(80, _STOP_DE))
        else:
            cluster, orig, _ = pick[int(rng.integers(0, len(pick)))]
            if kind == "near_dup":
                words = " ".join(orig[:4]).split(" ")
                body = _paras(text.variant(words)) + orig[4:]
            elif kind == "pii_twin":
                # differs from its original only inside redacted spans
                body = orig[:-1] + [_pii(rng)]
            else:
                body = list(orig)
        size[cluster] = size.get(cluster, 0) + 1
        pages.append((doc_id, _page(body)))
        truth.append((doc_id, cluster, passes, kind))
    inp = os.path.join(work, "input")
    table = pa.table({"doc_id": pa.array([p[0] for p in pages], pa.int64()),
                      "html": [p[1] for p in pages],
                      "lang": ["en"] * len(pages)})
    # several files, as a crawl arrives: one small file would be one scan task
    _write_parts(table, os.path.join(inp, "pages.parquet"), CURATE_FILES)
    _write(table.slice(0, CURATE_WARM_DOCS), os.path.join(inp, "warm_pages.parquet"))
    _write(pa.table({"doc_id": pa.array([t[0] for t in truth], pa.int64()),
                     "cluster": pa.array([t[1] for t in truth], pa.int64()),
                     "gate_pass": [t[2] for t in truth],
                     "kind": [t[3] for t in truth]}),
           os.path.join(work, "truth", "curate.parquet"))
    with open(os.path.join(inp, "pipeline.yaml"), "w") as f:
        f.write(CURATE_YAML)
    shares = {k: round(sum(1 for t in truth if t[3] == k) / n, 4)
              for k in kinds + ["unique"]}
    return {"docs": n, "shares": shares, "max_cluster": 4, "measured_rows": n}


def _pii(rng):
    name = "".join(_SYL[i] for i in rng.integers(0, len(_SYL), 3))
    a, b = int(rng.integers(1, 255)), int(rng.integers(1, 255))
    phone = int(rng.integers(1_000_000, 9_999_999))
    return f"contact {name}@example.com or {a}.{b}.10.7 or tel +1 555 {phone} today"


CURATE_YAML = """\
pipeline:
  name: web-pipeline
  stages:
    - stage: htmlExtract
    - stage: piiRedact
    - stage: qualityGate
      options:
        lang: en
        minQuality: "0.9"
        maxDupBigramFrac: "0.05"
    - stage: nearDupScreen
      options:
        threshold: "0.7"
    - stage: exactDedup
"""


def neardup_stream(rng, work):
    """Seed corpus plus NEARDUP_BATCHES one-file batches.  A streamed doc is
    either new text or a one-word variant of an earlier doc (seed or an
    earlier batch), in clusters of at most 4, so every within-cluster pair
    has 5-shingle Jaccard near 0.9 and every other pair near 0."""
    text = _Text(rng)
    inp = os.path.join(work, "input")
    docs = []                 # (id, words)
    cluster_of, members = {}, {}
    for i in range(1, NEARDUP_SEED_DOCS + 1):
        docs.append((i, text.words(80)))
        cluster_of[i] = i
        members[i] = [i]
    _write(pa.table({"id": pa.array([d[0] for d in docs], pa.int64()),
                     "text": [" ".join(d[1]) for d in docs]}),
           os.path.join(inp, "seed.parquet"))
    next_id = NEARDUP_SEED_DOCS + 1
    sdir = os.path.join(inp, "stream")
    os.makedirs(sdir, exist_ok=True)
    earlier = list(range(1, NEARDUP_SEED_DOCS + 1))
    words_of = dict(docs)
    streamed = 0
    for b in range(NEARDUP_BATCHES):
        batch = []
        for _ in range(NEARDUP_DOCS_PER_BATCH):
            source = None
            if rng.random() < NEARDUP_SHARE:
                for _ in range(8):
                    c = earlier[int(rng.integers(0, len(earlier)))]
                    if len(members[cluster_of[c]]) < 4:
                        source = c
                        break
            if source is None:
                w = text.words(80)
                cluster_of[next_id] = next_id
                members[next_id] = [next_id]
            else:
                w = text.variant(words_of[source])
                cluster_of[next_id] = cluster_of[source]
                members[cluster_of[source]].append(next_id)
            words_of[next_id] = w
            batch.append((next_id, w))
            next_id += 1
        earlier.extend(d[0] for d in batch)
        streamed += len(batch)
        pq.write_table(pa.table({"id": pa.array([d[0] for d in batch], pa.int64()),
                                 "text": [" ".join(d[1]) for d in batch]}),
                       os.path.join(sdir, f"batch-{b:05d}.parquet"))
    wdir = os.path.join(inp, "warm_stream")
    os.makedirs(wdir)
    for b in range(WARM_PAGES):
        name = f"batch-{b:05d}.parquet"
        shutil.copy(os.path.join(sdir, name), os.path.join(wdir, name))
    ids = sorted(cluster_of)
    _write(pa.table({"id": pa.array(ids, pa.int64()),
                     "cluster": pa.array([cluster_of[i] for i in ids], pa.int64()),
                     "streamed": [i > NEARDUP_SEED_DOCS for i in ids],
                     "text": [" ".join(words_of[i]) for i in ids]}),
           os.path.join(work, "truth", "neardup.parquet"))
    return {"seed_docs": NEARDUP_SEED_DOCS, "batches": NEARDUP_BATCHES,
            "docs_per_batch": NEARDUP_DOCS_PER_BATCH, "near_dup_share": NEARDUP_SHARE,
            "threshold": 0.7, "max_cluster": 4, "measured_rows": streamed}


GENERATORS = {"migrate-batch": migrate_batch, "migrate-stream": migrate_stream,
              "curate": curate, "neardup-stream": neardup_stream}


def generate(workload, seed, work):
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](rng, work)
