"""Result checks, run after the timed window has closed.

olap         every result against DuckDB running SparkEntry.oracleSql over
             the same generated parquet (normalisation and the 1e-9 float
             rule of the repository's oracle gate);
interactive  kNN against the benchmark's own brute force (exact plans) or
             by recall@10 (IVF plans); MATCH against DuckDB with the BM25
             formula of the fts1/ft10 oracles; interval/sample reads against
             DuckDB; every read of the managed table and its final contents
             against the benchmark's own model of that table.

Each check returns a list with one entry per timed request: None when the
result is correct, else a one-line reason.
"""
import json
import math
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

# the repository's oracle gate: its table list and row normalisation are
# the rule the olap check follows, so they are imported, not restated
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import TABLES, normalize  # noqa: E402

# Mean recall@10 of the IVF plans (lists=16, nprobe=8) must stay at or
# above this. Every seed tried when the benchmark was added gave 1.0;
# the margin admits a different but sound cell assignment.
RECALL_BOUND = 0.9

SCORE_TOL = 2e-6   # scores are rounded to 6 places by both engines
DIST_TOL = 1e-5    # float32 vectors: kernel vs numpy summation order


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ------------------------------------------------------------------ olap

def frames_differ(got, want):
    """check_oracle.py's comparison (its loop sits inside its main())."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            ok = ((a.isna() & b.isna()) |
                  (abs(a.astype(float) - b.astype(float)) < 1e-9)).all()
        else:
            ok = (a.astype(str) == b.astype(str)).all()
        if not ok:
            return f"value mismatch in column {c}"
    return None


def check_olap(out_dir, data_dir, done):
    oracles = json.load(open(os.path.join(out_dir, "oracle.json")))
    con = connect(data_dir)
    verdict = {}
    for d in done:
        v = d.get("variant")
        if v is None or v in verdict:
            continue
        name = v.rsplit("__", 1)[0]
        try:
            got = pd.read_parquet(os.path.join(out_dir, "olap", v))
            verdict[v] = frames_differ(got, con.sql(oracles[name]).fetchdf())
        except Exception as e:  # a missing oracle or unreadable result
            verdict[v] = f"{type(e).__name__}: {e}"
    return [None if d["err"] is None and verdict.get(d.get("variant")) is None
            else (d["err"] or f"{d['variant']}: {verdict[d['variant']]}")
            for d in done]


def check_probe_query(out_dir, data_dir, name):
    oracles = json.load(open(os.path.join(out_dir, "oracle.json")))
    got = pd.read_parquet(os.path.join(out_dir, "probe", name))
    con = connect(data_dir)
    return frames_differ(got, con.sql(oracles[name]).fetchdf())


# ------------------------------------------------------------ interactive

def tokens_sql(col="text"):
    return f"regexp_split_to_array(lower(trim({col})), '\\s+')"


def bm25_natural_sql(words):
    """fts1/ft10 oracle shape: the query is one positional phrase; score =
    nwords * log10(N/df)^2 * occ*2.5 / (occ + 1.5*(0.25 + 0.75*dl/avgdl))."""
    tok = tokens_sql()
    anchors = " UNION ALL ".join(
        f"SELECT doc_id, pos - {i} AS anchor FROM tok WHERE term = '{w}'"
        for i, w in enumerate(words))
    n = len(words)
    return f"""WITH tok AS (SELECT doc_id, unnest({tok}) AS term,
                               generate_subscripts({tok}, 1) AS pos FROM documents),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      anchors AS ({anchors}),
      occ AS (SELECT doc_id, anchor FROM anchors GROUP BY doc_id, anchor
              HAVING count(*) = {n}),
      r AS (SELECT doc_id, count(*) AS occs FROM occ GROUP BY doc_id)
      SELECT r.doc_id, {n} * power(log10(n_docs / (SELECT count(*) FROM r)), 2)
        * (occs * 2.5) / (occs + 1.5 * (1 - 0.75 + 0.75 * dl / avgdl)) AS score
      FROM r JOIN dl USING (doc_id) CROSS JOIN stats"""


def bm25_boolean_sql(query):
    """fts1 oracle shape: `+` terms must all be present, `-` terms absent,
    plain terms only add score; score sums per-term BM25 over the
    positive terms a document contains."""
    req = [t[1:] for t in query.split() if t.startswith("+")]
    neg = [t[1:] for t in query.split() if t.startswith("-")]
    pos = req + [t for t in query.split() if t[0] not in "+-"]
    tok = tokens_sql()
    terms = ", ".join(f"'{t}'" for t in pos)
    conds = [f"EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = s.doc_id AND tf.term = '{t}')"
             for t in req]
    conds += [f"NOT EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = s.doc_id AND tf.term = '{t}')"
              for t in neg]
    return f"""WITH tok AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      q AS (SELECT unnest([{terms}]) AS term),
      scored AS (
        SELECT tf.doc_id,
          sum(pow(log10(n_docs / df), 2)
              * (tf * 2.5) / (tf + 1.5 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
        FROM tf JOIN q USING (term) JOIN dfreq USING (term)
             JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY tf.doc_id)
      SELECT s.doc_id, s.score FROM scored s WHERE {' AND '.join(conds)}"""


def interval_sql(r):
    s = r["hours"] * 3600
    return f"""WITH agg AS (
        SELECT CAST(floor(epoch(ts) / {s}) * {s} AS BIGINT) AS ws,
               CAST(round(sum(CASE WHEN event_type = '{r['event_type']}'
                 THEN CAST(value AS DECIMAL(30,6)) END), 2) AS DOUBLE) AS v
        FROM events WHERE user_id BETWEEN {r['user']} AND {r['user'] + 9} GROUP BY ws)
      SELECT ws, ws + {s} AS we,
             coalesce(v, last_value(v IGNORE NULLS) OVER
               (ORDER BY ws ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v
      FROM agg ORDER BY ws"""


def sample_sql(r):
    """sps2 oracle shape: the N rows with the smallest md5 of the value."""
    return f"""SELECT t FROM (
        SELECT props AS t,
          row_number() OVER (ORDER BY (props IS NULL), md5(CAST(props AS VARCHAR))) AS _rn,
          count(props) OVER () AS _nn
        FROM events WHERE user_id = {r['user']})
      WHERE (_nn > 0 AND t IS NOT NULL AND _rn <= 3) OR (_nn = 0 AND _rn = 1)
      ORDER BY t"""


def near(a, b, tol):
    return a is not None and b is not None and abs(a - b) <= tol * max(1.0, abs(b))


def top_k(got, truth, k, tol):
    """`got`: [(id, value)] ranked ascending by value; `truth`: {id: value}
    for every candidate. Correct when each value is right, the order is
    ascending, and no candidate outside `got` beats its worst entry."""
    want = min(k, len(truth))
    if len(got) != want:
        return f"{len(got)} rows, expected {want}"
    for i, v in got:
        if i not in truth or not near(v, truth[i], tol):
            return f"id {i}: value {v} vs {truth.get(i)}"
    vals = [v for _, v in got]
    if any(b < a - tol for a, b in zip(vals, vals[1:])):
        return "not ranked"
    best = sorted(truth.values())[:want]
    if want and vals[-1] > best[-1] + tol:
        return f"missed a nearer candidate ({best[-1]} < {vals[-1]})"
    return None


def knn_truth(emb, labels, r):
    q = np.asarray(r["vec"], dtype=np.float64)
    rows = np.arange(len(emb)) if r["label"] is None else np.nonzero(labels == r["label"])[0]
    x = emb[rows].astype(np.float64)
    if r["metric"] == "l2_distance":
        d = np.sqrt(((x - q) ** 2).sum(axis=1))
    else:
        d = 1.0 - (x @ q) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))
    return dict(zip(rows.tolist(), d.tolist()))


def money(x):
    return Decimal(repr(float(x)))


class Model:
    """The managed table as the benchmark expects it: key -> row."""

    def __init__(self, initial):
        self.rows = dict(initial)

    def apply(self, r):
        """Apply a write; return the number of rows it changes."""
        op = r["op"]
        if op == "insert":
            self.rows[r["row"][0]] = tuple(r["row"])
            return 1
        if r["key"] not in self.rows:
            return 0
        if op == "update":
            k, c, _, _, pri = self.rows[r["key"]]
            self.rows[k] = (k, c, r["status"], r["price"], pri)
        else:
            del self.rows[r["key"]]
        return 1

    def read(self, r):
        op = r["op"]
        if op == "point":
            row = self.rows.get(r["key"])
            return [list(row)] if row else []
        if op == "range":
            return [[k, self.rows[k][3]] for k in sorted(self.rows)
                    if r["lo"] <= k <= r["hi"]]
        if op == "agg":
            groups = {}
            for k, c, st, p, _ in self.rows.values():
                if r["lo"] <= c <= r["hi"]:
                    n, s = groups.get(st, (0, Decimal(0)))
                    groups[st] = (n + 1, s + money(p))
            return [[st, n, float(s.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))]
                    for st, (n, s) in sorted(groups.items())]
        raise ValueError(op)

    def contents(self):
        return [list(self.rows[k]) for k in sorted(self.rows)]


def rows_differ(got, want):
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w):
            return f"row {g} vs {w}"
        for a, b in zip(g, w):
            if isinstance(b, float) and not isinstance(a, str):
                if a is None or not math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9):
                    return f"row {g} vs {w}"
            elif a != b:
                return f"row {g} vs {w}"
    return None


def epoch(iso):
    return int(pd.Timestamp(iso).timestamp())


class Interactive:
    def __init__(self, data_dir, frames, ctx, warmup, requests):
        self.con = connect(data_dir)
        self.emb = np.stack(frames["embeddings"]["embedding"].to_numpy())
        self.labels = frames["embeddings"]["label"].to_numpy()
        self.model = Model(ctx["initial"])
        for r in warmup:
            if r["cls"] == "write":
                self.model.apply(r)
        self.requests = requests
        self.recalls = []
        self.changed = 0
        self._duck = {}

    def duck(self, sql):
        if sql not in self._duck:
            self._duck[sql] = self.con.sql(sql).fetchall()
        return self._duck[sql]

    def one(self, r, d):
        op, got = r["op"], d["rows"]
        if op in ("knn_ivf", "knn_exact"):
            truth = knn_truth(self.emb, self.labels, r)
            pairs = [tuple(x) for x in got]
            if op == "knn_exact":
                return top_k(pairs, truth, 10, DIST_TOL)
            best = set(sorted(truth, key=truth.get)[:10])
            self.recalls.append(len(best & {i for i, _ in pairs}) / 10.0)
            sub = {i: truth[i] for i, _ in pairs if i in truth}
            # IVF is approximate: rank and values must be right, recall is
            # judged over the run
            return top_k(pairs, sub, len(pairs), DIST_TOL) if len(pairs) == 10 \
                else f"{len(pairs)} rows, expected 10"
        if op in ("match_nl", "match_bool"):
            sql = (bm25_boolean_sql(r["query"]) if r["boolean"]
                   else bm25_natural_sql(r["query"].split()))
            truth = {i: -s for i, s in self.duck(sql)}
            return top_k([(i, -s) for i, s in got], truth, 10, SCORE_TOL)
        if op == "interval":
            want = [[ws, we, v] for ws, we, v in self.duck(interval_sql(r))]
            have = sorted([[epoch(a), epoch(b), v] for a, b, v in got])
            return rows_differ(have, want)
        if op == "sample":
            return rows_differ(got, [list(x) for x in self.duck(sample_sql(r))])
        if op in ("point", "range", "agg"):
            return rows_differ(got, self.model.read(r))
        self.changed += self.model.apply(r)  # a write: later reads check it
        return None

    def check(self, done, final):
        out = []
        for d in done:
            r = self.requests[d["i"]]
            if d["err"] is not None:
                # a failed write may or may not have landed; later reads say
                if r["op"] in ("insert", "update", "delete"):
                    self.changed += self.model.apply(r)
                out.append(d["err"])
                continue
            try:
                out.append(self.one(r, d))
            except Exception as e:
                out.append(f"checker: {type(e).__name__}: {e}")
        final_err = rows_differ(final[0], self.model.contents()) if final else "no final read"
        return out, final_err
