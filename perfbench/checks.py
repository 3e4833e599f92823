"""Correctness checks: every operation's output is compared with an
independent answer computed from the same generated inputs.

- notebook: what each cell displays. `%sql` and `%arc` cells against DuckDB
  on the same substituted SQL (for a pipeline cell, the same aggregate
  computed from the source tables; the cell itself validates row
  conservation with SQLValidate stages); `%schema`, `%metadata`, `%summary`
  and `%sqlvalidate` against the view's shape and DuckDB's verdict.
- stores: the stores are replayed in Python. MinHash probes are compared
  with an exhaustive word-3-gram Jaccard scan, IVF results with exact cosine
  scores, ingest survivors with the dedup rule, and after every ingest or
  takedown the stored ids and contents with the replayed state.

Each check returns a list of error strings per operation; an empty list
means the output is correct.
"""
import json
import math
import re

import duckdb
import numpy as np

TOKEN = re.compile(r"[^\w]+")
THRESHOLD = 0.8


def close(a, b, rel=1e-9, abs_=0.011):
    """Equal up to summation order: two engines add doubles in different
    orders, so a sum rounded to cents may differ by one cent."""
    return abs(a - b) <= abs_ + rel * max(abs(a), abs(b))


def canon(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "__float__"):
        return float(v)
    return str(v)


def shown(got, exp):
    """Does the displayed string `got` show the value `exp`? Display
    formatting prints doubles in fixed point, NULL as `null` and dates as
    yyyy-MM-dd."""
    exp = canon(exp)
    if exp is None:
        return got == "null"
    if isinstance(exp, bool):
        return got == str(exp).lower()
    if isinstance(exp, int):
        return got == str(exp)
    if isinstance(exp, float):
        try:
            return close(float(got), exp)
        except ValueError:
            return False
    return got == str(exp)


def parse_table(text):
    """The rendered text table of a cell: (header, rows)."""
    lines = [l[2:-2] for l in text.split("\n") if l.startswith("| ") and l.endswith(" |")]
    if not lines:
        return None, []
    split = [[c.rstrip() for c in l.split(" | ")] for l in lines]
    return split[0], split[1:]


def compare_display(text, columns, rows, ordered=True, shown_rows=20):
    """Compare a cell's display with the expected result: the header, and
    the first `shown_rows` rows in order, or, for an unordered result, each
    shown row against the expected row with the same first column."""
    header, got = parse_table(text)
    if header is None:
        return ["no table in the cell output"]
    if [h.lower() for h in header] != [c.lower() for c in columns]:
        return [f"columns {header} != {columns}"]
    if len(got) != min(shown_rows, len(rows)):
        return [f"{len(got)} rows shown, expected {min(shown_rows, len(rows))}"]
    if ordered:
        pairs = zip(got, rows)
    else:
        by_key = {str(canon(r[0])): r for r in rows}
        pairs = [(g, by_key.get(g[0])) for g in got]
    for g, e in pairs:
        if e is None or len(g) != len(e) or not all(shown(a, b) for a, b in zip(g, e)):
            return [f"shown row {g} != expected {None if e is None else [canon(x) for x in e]}"]
    return []


# ---------------------------------------------------------------------------
# notebook


class NotebookOracle:
    def __init__(self, data_dir, oracle):
        self.data = data_dir
        self.oracle = oracle
        self.con = duckdb.connect()
        for t in ("lineitem", "orders", "customer", "documents"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.expected = {}
        self.done = -1

    def _query(self, sql):
        cur = self.con.execute(sql.replace("${DATA}", self.data))
        return [d[0] for d in cur.description], cur.fetchall()

    def expect(self, cell):
        # expectations are built in script order: persisted views must exist
        # before the cells that read them
        while self.done < cell:
            self.done += 1
            o = self.oracle[self.done]
            exp = None
            if "view" in o and "duck" in o:
                self.con.execute(f"CREATE OR REPLACE VIEW {o['view']} AS "
                                 + o["duck"].replace("${DATA}", self.data))
                exp = self._query(f"SELECT * FROM {o['view']}")
            elif "duck" in o:
                exp = self._query(o["duck"])
            elif o["kind"] == "schema":
                exp = self._query(f"SELECT * FROM {o['view']} LIMIT 0")[0]
            self.expected[self.done] = exp
        return self.expected[cell]

    def check(self, op):
        cell = op["out"]["cell"]
        o = self.oracle[cell]
        if not op["ok"]:
            return [f"cell {cell} failed: {op['err'][:200]}"]
        text = op["out"]["text"]
        exp = self.expect(cell)
        kind = o["kind"]
        if kind == "sql":
            return compare_display(text, *exp, ordered=o.get("ordered", True))
        if kind == "sqlvalidate":
            return [] if exp[1][0][0] and text == "valid" else [f"validation: {text[:100]}"]
        if kind == "schema":
            names = [f["name"].lower() for f in json.loads(text)["fields"]]
            return [] if names == [c.lower() for c in exp] else [f"schema {names} != {exp}"]
        if kind in ("metadata", "summary"):
            _, rows = parse_table(text)
            if kind == "metadata" and len(rows) != o["rows"]:
                return [f"metadata shows {len(rows)} rows for {o['rows']} columns"]
            if not rows:
                return [f"{kind} shows no rows"]
        return []


# ---------------------------------------------------------------------------
# stores


def trigrams(text):
    toks = [t for t in TOKEN.split(text.lower().strip()) if t]
    return frozenset(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))


class StoresReplay:
    """The stores' expected contents, advanced operation by operation."""

    def __init__(self, texts, vecs, base):
        self.texts = texts
        self.vecs = vecs.astype(np.float64)
        self.docs = {}
        self.postings = {}
        for i in range(base):
            self._add_doc(i)
        self.live_vecs = set(range(base))
        self.recalls = []
        self.mh_found = self.mh_true = 0

    def _add_doc(self, i):
        sh = trigrams(self.texts[i])
        self.docs[i] = sh
        for g in sh:
            self.postings.setdefault(g, set()).add(i)

    def _drop_doc(self, i):
        for g in self.docs.pop(i):
            self.postings[g].discard(i)

    def matches(self, sh, among=None):
        """Exhaustive: every doc whose Jaccard with `sh` reaches the
        threshold (only docs sharing a 3-gram can)."""
        inter = {}
        for g in sh:
            for d in self.postings.get(g, ()):
                inter[d] = inter.get(d, 0) + 1
        out = {}
        for d, n in inter.items():
            j = n / (len(sh) + len(self.docs[d]) - n)
            if j >= THRESHOLD:
                out[d] = j
        return out

    def check(self, op, o):
        if not op["ok"]:
            return [f"{op['kind']} failed: {op['err'][:300]}"]
        kind = op["kind"]
        res = op["out"].get("result")
        errs = []
        if kind == "probe":
            errs += self.check_matches(o["docs"], res["minhash"])
            errs += self.check_top10(o["vectors"], res["ivf"])
        elif kind == "ingest":
            errs += self.check_survivors(o["lo"], o["hi"], res)
            for i in res:
                self._add_doc(i)
            self.live_vecs.update(range(o["lo"], o["hi"]))
        elif kind == "takedown":
            victims = set(o["ids"])
            exp = {"minhash": 10 * len(victims & set(self.docs)),
                   "ivf": len(victims & self.live_vecs)}
            got = {k: v for k, v in res}
            if got != exp:
                errs.append(f"rows removed {got} != {exp}")
            for i in victims & set(self.docs):
                self._drop_doc(i)
            self.live_vecs -= victims
        if kind != "probe":
            errs += self.check_state(op["out"]["state"])
        return errs

    def check_matches(self, queries, res):
        """MinHash matches against the exhaustive scan. LSH is approximate:
        it may miss a near-duplicate (counted in the recall), but every
        reported pair must be a true one with its exact Jaccard, and every
        verbatim copy must be found."""
        exp, texts = {}, dict(queries)
        for qid, text in queries:
            for d, j in self.matches(trigrams(text)).items():
                exp[(qid, d)] = j
        got = {(a, b): j for a, b, j in res}
        errs = []
        false = sorted(set(got) - set(exp))
        if false:
            errs.append(f"pairs below the threshold reported: {false[:5]}")
        copies = sorted(k for k in exp if self.texts[k[1]] == texts[k[0]] and k not in got)
        if copies:
            errs.append(f"verbatim copies missed: {copies[:5]}")
        errs += [f"jaccard {k} {got[k]} != {exp[k]}" for k in got
                 if k in exp and abs(got[k] - exp[k]) > 1e-9][:3]
        self.mh_found += len(set(got) & set(exp))
        self.mh_true += len(exp)
        return errs

    def check_top10(self, queries, res):
        """IVF top-10: ten distinct live ids per query with exact cosine
        scores. Recall against the exhaustive top-10 is recorded, not
        checked: a partial probe is approximate by design."""
        live = sorted(self.live_vecs)
        m = self.vecs[live]
        norms = np.linalg.norm(m, axis=1)
        by_q = {}
        for qid, nid, score in res:
            by_q.setdefault(qid, []).append((nid, score))
        errs = []
        for qid, q in queries:
            q = np.array(q, dtype=np.float32).astype(np.float64)
            got = by_q.get(qid, [])
            ids = [n for n, _ in got]
            if len(got) != 10 or len(set(ids)) != 10:
                errs.append(f"query {qid}: {len(got)} results")
                continue
            dead = [n for n in ids if n not in self.live_vecs]
            if dead:
                errs.append(f"query {qid}: returned removed ids {dead}")
                continue
            for n, s in got:
                v = self.vecs[n]
                exact = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
                if abs(exact - s) > 1e-4:
                    errs.append(f"query {qid}: score {s} != {exact} for {n}")
                    break
            cos = m @ q / (norms * np.linalg.norm(q))
            top = {live[k] for k in np.argsort(-cos)[:10]}
            self.recalls.append(len(top & set(ids)) / 10.0)
        return errs

    def check_survivors(self, lo, hi, res):
        """The ingest rule: a batch doc is dropped when it matches a stored
        doc, or is a verbatim copy or near-duplicate of a lower-id doc of
        the same batch. As for probes, a near-duplicate may slip through
        LSH and survive; a verbatim copy may not, and no doc may be dropped
        without a true match."""
        errs, batch = [], {}
        survivors = set(res)
        for i in range(lo, hi):
            sh = trigrams(self.texts[i])
            near = self.matches(sh)
            near_batch = [a for a, s in batch.items()
                          if len(sh | s) and len(sh & s) / len(sh | s) >= THRESHOLD]
            copy = any(self.texts[d] == self.texts[i] for d in list(near) + near_batch)
            batch[i] = sh
            if i in survivors and copy:
                errs.append(f"doc {i} survived but copies a stored or earlier doc")
            if i not in survivors and not (near or near_batch):
                errs.append(f"doc {i} dropped without a duplicate")
        if not survivors <= set(range(lo, hi)):
            errs.append(f"survivors {sorted(survivors)} outside the batch {lo}..{hi}")
        return errs

    def check_state(self, st):
        errs = []
        live = sorted(self.docs)
        if st["exact"] != live:
            errs.append("MinHash exact table ids differ from the live docs")
        if st["bands"] != live:
            errs.append("MinHash bands table ids differ from the live docs")
        if {i: n for i, n in st["shingles"]} != {i: len(self.docs[i]) for i in live}:
            errs.append("MinHash shingle sets differ from the live docs")
        got = {i: s for i, s in st["vectors"]}
        if sorted(got) != sorted(self.live_vecs):
            errs.append("IVF ids differ from the live vectors")
        elif any(abs(got[i] - float(self.vecs[i].astype(np.float32).astype(np.float64).sum())) > 1e-3
                 for i in got):
            errs.append("IVF vectors differ from the stored originals")
        return errs

    def recall(self):
        return float(np.mean(self.recalls)) if self.recalls else math.nan

    def minhash_recall(self):
        return self.mh_found / self.mh_true if self.mh_true else math.nan
