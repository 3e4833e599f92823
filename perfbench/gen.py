"""Seeded input generator for the graft benchmark.

Everything a run feeds the program comes from here: the parquet tables and
the operation list of one workload. The same seed gives the same tables and a
byte-identical operation list (`ops_bytes`); paths never appear in the list,
the runner passes the data and output directories to the program separately.

Only numpy, pyarrow and the standard library are used, so the inputs do not
depend on the program under test.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the TPC-H-shaped tables
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_DOCS = 5_000
DIM = 64
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]
DAY0 = np.datetime64("1992-01-01")
N_DAYS = 2_400  # order dates span 1992-01-01 .. 1998-07-23

# stores workload geometry: docs (and their vectors) below the split are the
# base corpus built in set-up; the rest arrive through ingest batches
STORE_SPLIT = 4_000
STORE_OPS = 200  # far more than a run reaches


def rng_for(seed, stream):
    """An independent generator per named stream, so adding a table does not
    shift the draws of another."""
    h = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(h)


def vocabulary(seed, n=4_000):
    r = rng_for(seed, "vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(r.integers(3, 10))
        words.add("".join(r.choice(letters, k)))
    return sorted(words)


# ---------------------------------------------------------------------------
# tables


def tpch_tables(seed):
    r = rng_for(seed, "tpch")
    cust = pa.table({
        "c_custkey": pa.array(np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, N_CUSTOMERS + 1)]),
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMERS, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, N_CUSTOMERS)]),
    })
    okeys = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    odays = r.integers(0, N_DAYS, N_ORDERS)
    lines_per = r.integers(1, 8, N_ORDERS)
    n_lines = int(lines_per.sum())
    l_order = np.repeat(okeys, lines_per)
    l_lineno = (np.arange(n_lines) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1)
    qty = r.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(qty * r.uniform(900.0, 2000.0, n_lines), 2)
    disc = r.integers(0, 11, n_lines) / 100.0
    tax = r.integers(0, 9, n_lines) / 100.0
    ship = np.repeat(odays, lines_per) + r.integers(1, 122, n_lines)
    shipdate = DAY0 + ship.astype("timedelta64[D]")
    status = np.where(ship > 1_260, "O", "F")
    flag = np.where(status == "O", "N", np.array(["A", "R"])[r.integers(0, 2, n_lines)])
    line = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(r.integers(1, 20_001, n_lines, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(1, 1_001, n_lines, dtype=np.int64)),
        "l_linenumber": pa.array(l_lineno.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(status),
        "l_shipdate": pa.array(shipdate.astype("datetime64[D]"), type=pa.date32()),
    })
    totals = np.zeros(N_ORDERS)
    np.add.at(totals, l_order - 1, price * (1 - disc) * (1 + tax))
    orders = pa.table({
        "o_orderkey": pa.array(okeys),
        "o_custkey": pa.array(r.integers(1, N_CUSTOMERS + 1, N_ORDERS, dtype=np.int64)),
        "o_orderstatus": pa.array(np.where(odays > 1_200, "O", "F")),
        "o_totalprice": pa.array(np.round(totals, 2)),
        "o_orderdate": pa.array((DAY0 + odays.astype("timedelta64[D]")).astype("datetime64[D]"),
                                type=pa.date32()),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, N_ORDERS)]),
    })
    return {"customer": cust, "orders": orders, "lineitem": line}


def doc_texts(seed):
    """Document texts. Docs are random words from a 4000-word vocabulary, so
    two unrelated docs share almost no word 3-grams. About 4% are verbatim
    copies of an earlier doc (the pipeline's exact dedup removes them), and
    some carry an email or a phone number for the redaction stage."""
    r = rng_for(seed, "docs")
    vocab = np.array(vocabulary(seed))
    texts = []
    for i in range(N_DOCS):
        if i > 10 and r.random() < 0.04:
            texts.append(texts[int(r.integers(0, i))])
            continue
        words = list(vocab[r.integers(0, len(vocab), int(r.integers(30, 90)))])
        if r.random() < 0.1:
            words.insert(int(r.integers(0, len(words))), f"{words[0]}@example.com")
        if r.random() < 0.1:
            words.append(f"555-{int(r.integers(100, 999))}-{int(r.integers(1000, 9999))}")
        texts.append(" ".join(words))
    return texts


def store_docs(seed, texts):
    """The stores workload's corpus: the base docs unchanged, and held-out
    docs of which a fifth are near-duplicates (one word dropped or appended)
    of a base doc, so ingest dedup has matches to find."""
    r = rng_for(seed, "store-docs")
    vocab = vocabulary(seed)
    out = list(texts)
    for i in range(STORE_SPLIT, N_DOCS):
        if r.random() < 0.2:
            out[i] = near_dup(out[int(r.integers(0, STORE_SPLIT))], r, vocab)
    return out


def near_dup(text, r, vocab):
    """A copy whose word 3-gram Jaccard with `text` is at least 0.97."""
    words = text.split(" ")
    if r.random() < 0.5:
        return " ".join(words[:-1])
    return " ".join(words + [vocab[int(r.integers(0, len(vocab)))]])


def documents_table(seed, texts):
    r = rng_for(seed, "doc-meta")
    n = len(texts)
    html = [f"<html><body><p>{t}</p></body></html>" for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "html": pa.array(html),
        "lang": pa.array(np.array(LANGS)[r.integers(0, 5, n)]),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def vectors(seed):
    """Unit vectors around 32 cluster centres; vector i belongs to doc i."""
    r = rng_for(seed, "vectors")
    centres = r.normal(size=(32, DIM))
    labels = r.integers(0, 32, N_DOCS)
    v = centres[labels] + 0.35 * r.normal(size=(N_DOCS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def embeddings_table(vecs, labels):
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def write_tables(tables, data_dir):
    os.makedirs(data_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"), row_group_size=100_000)


# ---------------------------------------------------------------------------
# notebook


def _date(days):
    return str(DAY0 + np.timedelta64(int(days), "D"))


SOURCE_CELLS = [
    # pricing summary
    ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty,\n"
     "  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue\n"
     "FROM lineitem WHERE l_shipdate <= DATE '${cutoff}'\n"
     "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    # revenue of one segment per order priority
    ("SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue\n"
     "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey\n"
     "WHERE c_mktsegment = '${seg}' AND year(o_orderdate) = ${year}\n"
     "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    # biggest customers of a year
    ("SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS spend\n"
     "FROM orders WHERE year(o_orderdate) = ${year}\n"
     "GROUP BY o_custkey ORDER BY spend DESC, o_custkey LIMIT 10"),
    # documents of one source
    ("SELECT lang, COUNT(*) AS n, ROUND(AVG(n_chars), 2) AS avg_chars\n"
     "FROM documents WHERE source = '${src}' GROUP BY lang ORDER BY lang"),
    # nations by balance
    ("SELECT c_nationkey, COUNT(*) AS n, ROUND(AVG(c_acctbal), 2) AS bal\n"
     "FROM customer WHERE c_mktsegment = '${seg}' GROUP BY c_nationkey ORDER BY c_nationkey"),
]
SCAN_CELLS = [
    ("SELECT l_linestatus, COUNT(*) AS n, ROUND(AVG(l_discount), 4) AS disc\n"
     "FROM {lineitem} WHERE l_quantity > ${min_qty} GROUP BY l_linestatus ORDER BY l_linestatus"),
    ("SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total\n"
     "FROM {orders} WHERE o_orderpriority = '${prio}' GROUP BY o_orderstatus ORDER BY o_orderstatus"),
]
VIEW_CELLS = [
    ("SELECT c_nationkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total\n"
     "FROM {pv} GROUP BY c_nationkey ORDER BY c_nationkey"),
    ("SELECT o_orderpriority, COUNT(*) AS n, ROUND(AVG(o_totalprice), 2) AS avg_total\n"
     "FROM {pv} GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "SELECT year(o_orderdate) AS y, COUNT(*) AS n FROM {pv} GROUP BY year(o_orderdate) ORDER BY y",
    ("SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend FROM {pv}\n"
     "GROUP BY o_custkey ORDER BY spend DESC, o_custkey LIMIT 5"),
]
PERSISTED = ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority, "
             "c_nationkey, c_mktsegment\nFROM orders JOIN customer ON o_custkey = c_custkey\n"
             "WHERE c_mktsegment = '${seg}' AND year(o_orderdate) BETWEEN ${year} - 1 AND ${year}")

# The batch-ETL leg of arc-jupyter: a whole stage pipeline in one `%arc`
# cell. Extract (the source views), land and type, join and aggregate, load
# to parquet, read back, validate row conservation, summarise.
ETL_CELL = """%arc
{stages: [
  {type = "SQLTransform", name = "customer_landing", outputView = "customer_raw",
   sql = \"\"\"SELECT CAST(c_custkey AS STRING) AS c_custkey, CAST(c_nationkey AS STRING) AS c_nationkey,
     CAST(c_acctbal AS STRING) AS c_acctbal, c_mktsegment FROM customer\"\"\"},
  {type = "TypingTransform", name = "customer_typed", inputView = "customer_raw", outputView = "customer_typed",
   schema = [
     {name = "c_custkey", type = "long"},
     {name = "c_nationkey", type = "integer"},
     {name = "c_acctbal", type = "double"},
     {name = "c_mktsegment", type = "string"}
   ]},
  {type = "SQLTransform", name = "order_revenue", outputView = "order_revenue",
   sql = \"\"\"SELECT o_orderkey, o_custkey, year(o_orderdate) AS o_year,
     SUM(l_extendedprice * (1 - l_discount)) AS revenue, COUNT(*) AS n_lines
     FROM orders JOIN lineitem ON l_orderkey = o_orderkey
     WHERE l_shipdate <= DATE '${cutoff}'
     GROUP BY o_orderkey, o_custkey, year(o_orderdate)\"\"\"},
  {type = "SQLTransform", name = "segment_revenue", outputView = "segment_revenue",
   sql = \"\"\"SELECT c.c_mktsegment, r.o_year, c.c_nationkey, COUNT(*) AS n_orders,
     SUM(r.n_lines) AS n_lines, ROUND(SUM(r.revenue), 2) AS revenue
     FROM order_revenue r JOIN customer_typed c ON r.o_custkey = c.c_custkey
     GROUP BY c.c_mktsegment, r.o_year, c.c_nationkey\"\"\"},
  {type = "ParquetLoad", name = "load_segment", inputView = "segment_revenue", outputURI = ${OUT}"/segment_revenue"},
  {type = "ParquetExtract", name = "segment_loaded", inputURI = ${OUT}"/segment_revenue", outputView = "segment_loaded"},
  {type = "SQLValidate", name = "lines_conserved",
   sql = \"\"\"SELECT (SELECT SUM(n_lines) FROM segment_loaded)
       = (SELECT COUNT(*) FROM lineitem WHERE l_shipdate <= DATE '${cutoff}') AS valid,
     'loaded line count differs from the source' AS message\"\"\"},
  {type = "SQLTransform", name = "segment_summary", outputView = "segment_summary",
   sql = \"\"\"SELECT c_mktsegment, COUNT(*) AS n_groups, SUM(n_orders) AS n_orders, SUM(n_lines) AS n_lines,
     ROUND(SUM(revenue), 0) AS revenue FROM segment_loaded GROUP BY c_mktsegment ORDER BY c_mktsegment\"\"\"}
]}"""
ETL_ORACLE = """
WITH order_revenue AS (
  SELECT o_orderkey, o_custkey, year(o_orderdate) AS o_year,
    SUM(l_extendedprice * (1 - l_discount)) AS revenue, COUNT(*) AS n_lines
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE l_shipdate <= DATE '${cutoff}' GROUP BY o_orderkey, o_custkey, year(o_orderdate)),
segment_revenue AS (
  SELECT c_mktsegment, o_year, c_nationkey, COUNT(*) AS n_orders, SUM(n_lines) AS n_lines,
    ROUND(SUM(revenue), 2) AS revenue
  FROM order_revenue JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_year, c_nationkey)
SELECT c_mktsegment, COUNT(*) AS n_groups, SUM(n_orders) AS n_orders, SUM(n_lines) AS n_lines,
  ROUND(SUM(revenue), 0) AS revenue FROM segment_revenue GROUP BY c_mktsegment ORDER BY c_mktsegment"""

# The LLM-curation leg: documents of one source through HTML extraction,
# language id, exact dedup and PII redaction, loaded, validated, counted.
CURATION_CELL = """%arc
{stages: [
  {type = "SQLTransform", name = "docs_src", outputView = "docs_src",
   sql = \"\"\"SELECT doc_id, html, lang, source FROM documents WHERE source = '${src}'\"\"\"},
  {type = "HtmlTextTransform", name = "html", inputView = "docs_src", outputView = "docs_text", htmlField = "html"},
  {type = "LangIdTransform", name = "langid", inputView = "docs_text", outputView = "docs_lang", textField = "text_extracted"},
  {type = "DeduplicateTransform", name = "dedup", inputView = "docs_lang", outputView = "docs_dedup",
   idField = "doc_id", textField = "text_extracted", method = "exact"},
  {type = "RedactTransform", name = "redact", inputView = "docs_dedup", outputView = "docs_clean", textField = "text_extracted"},
  {type = "ParquetLoad", name = "load_docs", inputView = "docs_clean", outputURI = ${OUT}"/docs_clean"},
  {type = "ParquetExtract", name = "docs_loaded", inputURI = ${OUT}"/docs_clean", outputView = "docs_loaded"},
  {type = "SQLValidate", name = "docs_redacted",
   sql = \"\"\"SELECT COUNT(*) = 0 AS valid, 'an email survived redaction' AS message
     FROM docs_loaded WHERE text_extracted LIKE '%@example.com%'\"\"\"},
  {type = "SQLTransform", name = "docs_summary", outputView = "docs_summary",
   sql = \"\"\"SELECT COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_ids FROM docs_loaded\"\"\"}
]}"""
CURATION_ORACLE = ("SELECT COUNT(DISTINCT text) AS n_docs, COUNT(DISTINCT text) AS n_ids\n"
                   "FROM documents WHERE source = '${src}'")

def notebook_ops(seed):
    """A seeded notebook script. Returns (ops, oracle): `ops` is what the
    program receives; `oracle[i]` tells the checker how to verify cell i.

    The script is what a user re-runs while working: an `%env` cell that
    sets the `${param}` literals, a cell that persists a view, the two `%arc`
    pipeline cells (batch ETL and document curation), then in seeded order
    `%schema`, `%sqlvalidate`, `%metadata`, `%summary` and ten `%sql`
    queries: five read the persisted view, one scans a parquet file afresh,
    four read the source views. Every script has this make-up, so the
    persisted share is 0.5 for every seed; the seed draws the literals, which
    query templates repeat or drop out, and the order."""
    r = rng_for(seed, "notebook")
    setup = [{"code": "%arc\n{stages: [\n" + ",\n".join(
        f'  {{type = "ParquetExtract", name = "{t}", '
        f'inputURI = ${{DATA}}"/{t}.parquet", outputView = "{t}"}}'
        for t in ("lineitem", "orders", "customer", "documents")) + "\n]}"}]
    ops, oracle = [], []
    env = {
        "cutoff": _date(r.integers(1_800, 2_300)),
        "year": str(int(r.integers(1993, 1998))),
        "seg": SEGMENTS[int(r.integers(0, 5))],
        "min_qty": str(int(r.integers(5, 45))),
        "src": f"src{int(r.integers(0, 20))}",
        "prio": PRIORITIES[int(r.integers(0, 5))],
    }

    def subst(sql):
        for k, v in env.items():
            sql = sql.replace("${" + k + "}", v)
        return sql

    def add(code, check):
        ops.append({"cell": len(ops), "code": code})
        oracle.append(check)

    add("%env\n" + "\n".join(f'{k}="{v}"' for k, v in sorted(env.items())), {"kind": "env"})
    add(f"%sql outputView=pv persist=true\n{PERSISTED}",
        {"kind": "sql", "view": "pv", "duck": subst(PERSISTED), "ordered": False})
    add(ETL_CELL, {"kind": "sql", "duck": subst(ETL_ORACLE)})
    add(CURATION_CELL, {"kind": "sql", "duck": subst(CURATION_ORACLE)})
    views = list(range(len(VIEW_CELLS))) + [int(r.integers(0, len(VIEW_CELLS)))]
    sources = [int(k) for k in r.choice(len(SOURCE_CELLS), len(SOURCE_CELLS) - 1, replace=False)]
    body = ([("view", k) for k in views] + [("scan", int(r.integers(0, len(SCAN_CELLS))))]
            + [("source", k) for k in sources]
            + [(k, 0) for k in ("schema", "sqlvalidate", "metadata", "summary")])
    for kind, k in [body[i] for i in r.permutation(len(body))]:
        if kind == "view":
            t = VIEW_CELLS[k].replace("{pv}", "pv")
            add(f"%sql\n{t}", {"kind": "sql", "reads": "persisted", "duck": subst(t)})
        elif kind == "scan":
            t = SCAN_CELLS[k]
            spark_sql = t.replace("{lineitem}", "parquet.`${DATA}/lineitem.parquet`") \
                         .replace("{orders}", "parquet.`${DATA}/orders.parquet`")
            duck = t.replace("{lineitem}", "read_parquet('${DATA}/lineitem.parquet')") \
                    .replace("{orders}", "read_parquet('${DATA}/orders.parquet')")
            add(f"%sql\n{spark_sql}", {"kind": "sql", "reads": "scan", "duck": subst(duck)})
        elif kind == "source":
            t = SOURCE_CELLS[k]
            add(f"%sql\n{t}", {"kind": "sql", "reads": "source", "duck": subst(t)})
        elif kind == "schema":
            add("%schema pv", {"kind": "schema", "view": "pv"})
        elif kind == "sqlvalidate":
            t = ("SELECT COUNT(*) > 0 AS valid, 'no orders in year' AS message\n"
                 "FROM orders WHERE year(o_orderdate) = ${year}")
            add(f"%sqlvalidate\n{t}", {"kind": "sqlvalidate", "duck": subst(t)})
        else:  # metadata, summary: one row per column of customer
            add(f"%{kind} customer", {"kind": kind, "rows": 5})
    queries = [o for o in oracle if o.get("reads")]
    meta = {"persisted_share": sum(o["reads"] == "persisted" for o in queries) / len(queries),
            "mix": _mix(ops)}
    return {"workload": "notebook", "seed": seed, "setup": setup, "ops": ops, "meta": meta}, oracle


def _mix(ops):
    kinds = {}
    for o in ops:
        k = o.get("kind") or o["code"].split(None, 1)[0].lstrip("%")
        kinds[k] = kinds.get(k, 0) + 1
    return dict(sorted(kinds.items()))


# ---------------------------------------------------------------------------
# stores

# one block of ten operations: 70% probes, 20% ingests, 10% takedowns, in a
# fixed interleaving so that a short run still sees every kind
STORE_BLOCK = ["probe", "takedown", "ingest", "probe", "probe",
               "probe", "ingest", "probe", "probe", "probe"]


def stores_ops(seed, texts, vecs):
    """A seeded stream of store operations in blocks of STORE_BLOCK. Both
    stores are keyed by doc id (vector i belongs to doc i). A probe looks a
    batch up in both: MinHash matches for 8 docs (verbatim copies and
    near-duplicates of corpus docs, and unrelated docs) and IVF top-10 for 8
    perturbed corpus vectors. An ingest adds the next 10 held-out docs to both
    stores in id order; a takedown removes a seeded set of 6 live doc ids
    from both."""
    r = rng_for(seed, "stores")
    vocab = vocabulary(seed)
    ops = []
    next_id = STORE_SPLIT
    live = set(range(STORE_SPLIT))
    qid = 10_000_000
    while len(ops) < STORE_OPS:
        for k in STORE_BLOCK:
            if k == "probe":
                docs, vqs = [], []
                for j in range(8):
                    src = texts[int(r.integers(0, STORE_SPLIT))]
                    t = src if j < 3 else near_dup(src, r, vocab) if j < 6 else \
                        " ".join(vocab[int(i)] for i in r.integers(0, len(vocab), 50))
                    docs.append([qid, t])
                    q = vecs[int(r.integers(0, STORE_SPLIT))].astype(np.float64) + 0.2 * r.normal(size=DIM)
                    q /= np.linalg.norm(q)
                    vqs.append([qid, [round(float(x), 6) for x in q]])
                    qid += 1
                ops.append({"op": len(ops), "kind": "probe", "docs": docs, "vectors": vqs})
            elif k == "ingest":
                hi = min(N_DOCS, next_id + 10)
                ops.append({"op": len(ops), "kind": "ingest", "lo": next_id, "hi": hi})
                live.update(range(next_id, hi))
                next_id = hi
            else:
                pool = sorted(live)
                ids = sorted(int(pool[int(i)]) for i in r.choice(len(pool), 6, replace=False))
                live.difference_update(ids)
                ops.append({"op": len(ops), "kind": "takedown", "ids": ids})
    meta = {"mix": _mix(ops), "base": STORE_SPLIT}
    return {"workload": "stores", "seed": seed, "ops": ops, "meta": meta}, {}


# ---------------------------------------------------------------------------


def ops_bytes(ops):
    """Canonical bytes of an operation list: the hash of these bytes is the
    list's identity."""
    return json.dumps(ops, sort_keys=True, separators=(",", ":")).encode()


def generate(workload, seed, data_dir=None):
    """Build the inputs of one workload run. Writes the tables under
    `data_dir` when given; returns (ops, oracle, state) where `state` holds
    what the checker needs to replay the stores."""
    state = {}
    if workload == "notebook":
        ops, oracle = notebook_ops(seed)
        tables = dict(tpch_tables(seed), documents=documents_table(seed, doc_texts(seed)))
    elif workload == "stores":
        texts = store_docs(seed, doc_texts(seed))
        vecs, labels = vectors(seed)
        ops, oracle = stores_ops(seed, texts, vecs)
        tables = {"documents": documents_table(seed, texts),
                  "embeddings": embeddings_table(vecs, labels)}
        state = {"texts": texts, "vecs": vecs}
    else:
        raise ValueError(f"unknown workload {workload}")
    if data_dir is not None:
        write_tables(tables, data_dir)
    return ops, oracle, state
