"""The benchmark's workloads: inputs, set-up and request streams, all
derived from the seed.

Each workload function returns a plan (what the harness JVM executes)
plus the context the checker needs. The harness only reads `kind`,
`cls`, `tag`, `text` and `boundary` of a request; the other fields
describe the request for the checker.
"""
import numpy as np

import gen

# Nine of the 34 historical bench queries: four TPC-H queries that
# between them cover scan-filter-aggregate with money sums (q1, q6) and
# multi-way, semi and anti joins (q9, q21), and five non-TPC-H analytic
# paths: ranking windows, tumbling time windows, bitmap aggregates,
# MinHash LSH and text quality. Each query costs a cold execution in
# set-up and two per timed round, so the set is what fits a run in the
# benchmark's time budget (README.md). v2, v6 and ft1 use the indexes,
# which the interactive workload covers; q11 is probed, not timed (see
# OLAP_PROBES).
OLAP_QUERIES = [
    "q1_pricing_summary", "q6_forecast_revenue", "q9_product_profit",
    "q21_waiting_suppliers", "w1_ranking", "tw1_tumbling_day",
    "a4_bitmap_aggs", "dd2_minhash_lsh", "tx2_quality"]

# q11 rounds a double sum to cents, so at an exact half-cent its result
# depends on summation order and can differ from the oracle's by one cent
# (seen on 2 of 8 seeds). It runs once per run, untimed, and its check is
# reported beside the metrics instead of failing the run.
OLAP_PROBES = ["q11_important_stock"]

# MATCH terms: the corpus vocabulary without its one-letter and stop words
TERMS = [w for w in gen.VOCAB if w not in ("a", "the")]

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderpriority"]
TABLE = "bench_orders"

# Streams are generated longer than any window can consume; a run that
# exhausts its stream is reported as an error rather than cut short.
OLAP_PASSES = 40
STREAM_LEN = 2000  # 50 rounds

IVF_DDL = ('CREATE INDEX ivf_emb USING IVFFLAT ON embeddings(embedding) '
           'lists=16 nprobe=8 op_type "vector_l2_ops"')


def olap(seed):
    """Rounds of two passes over the analytic queries, each pass in a
    seeded order; a window closes only between rounds."""
    rng = np.random.default_rng([seed, 1])

    def passes(n):
        out = []
        for p in range(n):
            for j, q in enumerate(rng.permutation(OLAP_QUERIES)):
                out.append({"kind": "query", "cls": "read", "tag": str(q),
                            "text": str(q), "boundary": j == 0 and p % 2 == 0})
        return out

    warmup = passes(1)
    return {"setup_steps": [], "warmup": warmup, "requests": passes(OLAP_PASSES),
            "managed_tables": [], "final_sql": [], "probe_queries": OLAP_PROBES}


# ---------------------------------------------------------- interactive

# One block of 20 requests as (operation, variant, count). Each block holds
# exactly these counts in a seeded order and a window closes only between
# rounds of two blocks, so every run times the same mix; the variants fix
# the kNN metric and the MATCH query shape, whose costs differ most.
BLOCK = [
    ("knn_ivf", "l2_distance", 1), ("knn_ivf", "cosine_distance", 1),
    ("knn_exact", "l2_distance", 1), ("knn_exact", "cosine_distance", 1),
    ("match_nl", 1, 1), ("match_nl", 3, 1),
    ("match_bool", "+a b", 1), ("match_bool", "+a -b c", 1),
    ("point", None, 3), ("range", None, 1), ("agg", None, 1),
    ("interval", None, 1), ("sample", None, 1),
    ("insert", None, 3), ("update", None, 1), ("delete", None, 1)]
BLOCK_SIZE = sum(count for _, _, count in BLOCK)
WRITES = {"insert", "update", "delete"}


def vec_literal(v):
    return "'[" + ",".join(repr(float(x)) for x in v) + "]'"


def knn_sql(metric, lit, label):
    where = f" WHERE label = {label}" if label is not None else ""
    return (f"SELECT vec_id, {metric}(embedding, {lit}) AS d FROM "
            f"(SELECT * FROM embeddings{where} ORDER BY {metric}(embedding, {lit}) "
            f"LIMIT 10) t ORDER BY d, vec_id")


def match_sql(query, boolean):
    mode = " IN BOOLEAN MODE" if boolean else ""
    m = f"MATCH(text) AGAINST('{query}'{mode})"
    return (f"SELECT doc_id, round({m}, 6) AS score FROM documents WHERE {m} "
            f"ORDER BY score DESC, doc_id LIMIT 10")


class Stream:
    """Generates interactive requests; tracks which keys exist so updates,
    deletes and point reads mostly hit live rows."""

    def __init__(self, rng, frames, live, next_key):
        self.rng = rng
        self.emb = np.stack(frames["embeddings"]["embedding"].to_numpy())
        self.n_cust = len(frames["customer"])
        self.n_users = int(frames["events"]["user_id"].max()) + 1
        self.live = sorted(live)
        self.live_set = set(live)
        self.next_key = next_key

    def _key(self, hit=0.85):
        if self.live and self.rng.random() < hit:
            return int(self.live[int(self.rng.integers(0, len(self.live)))])
        return int(self.rng.integers(0, self.next_key + 100))

    def _money(self):
        return round(float(self.rng.uniform(1000.0, 500000.0)), 2)

    def make(self, op, variant):
        r = self.rng
        req = {"kind": "sql", "cls": "write" if op in WRITES else "read",
               "tag": op, "boundary": False, "op": op}
        if op in ("knn_ivf", "knn_exact"):
            row = int(r.integers(0, len(self.emb)))
            q = (self.emb[row] + r.normal(0.0, 0.05, self.emb.shape[1])).astype(np.float32)
            metric = variant
            label = int(r.integers(0, 10)) if op == "knn_exact" else None
            req.update(metric=metric, vec=[float(x) for x in q], label=label,
                       text=knn_sql(metric, vec_literal(q), label))
        elif op == "match_nl":
            words = " ".join(str(w) for w in r.choice(TERMS, variant, replace=False))
            req.update(query=words, boolean=False, text=match_sql(words, False))
        elif op == "match_bool":
            w = dict(zip("abc", (str(x) for x in r.choice(TERMS, 3, replace=False))))
            query = " ".join(t[0] + w[t[1]] if t[0] in "+-" else w[t] for t in variant.split())
            req.update(query=query, boolean=True, text=match_sql(query, True))
        elif op == "point":
            k = self._key()
            req.update(key=k, text=f"SELECT {', '.join(ORDER_COLS)} FROM {TABLE} "
                                   f"WHERE o_orderkey = {k}")
        elif op == "range":
            a = self._key(hit=1.0)
            req.update(lo=a, hi=a + 160,
                       text=f"SELECT o_orderkey, o_totalprice FROM {TABLE} WHERE "
                            f"o_orderkey BETWEEN {a} AND {a + 160} ORDER BY o_orderkey")
        elif op == "agg":
            a = int(r.integers(0, self.n_cust))
            b = a + max(1, self.n_cust // 20)
            req.update(lo=a, hi=b, text=(
                f"SELECT o_orderstatus, count(*) AS n, CAST(round(sum(CAST("
                f"o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total FROM {TABLE} "
                f"WHERE o_custkey BETWEEN {a} AND {b} GROUP BY o_orderstatus "
                f"ORDER BY o_orderstatus"))
        elif op == "interval":
            u = int(r.integers(0, max(1, self.n_users - 10)))
            et = str(r.choice(gen.EVENT_TYPES))
            hours = int(r.choice([2, 3, 6, 12]))
            req.update(user=u, event_type=et, hours=hours, text=(
                f"SELECT _wstart, _wend, CAST(round(sum(CASE WHEN event_type = '{et}' "
                f"THEN CAST(value AS DECIMAL(30,6)) END), 2) AS DOUBLE) AS v "
                f"FROM events WHERE user_id BETWEEN {u} AND {u + 9} "
                f"interval(ts, {hours}, hour) fill(prev)"))
        elif op == "sample":
            u = int(r.integers(0, self.n_users))
            req.update(user=u, text=f"SELECT sample(props, 3 rows) AS p FROM events "
                                    f"WHERE user_id = {u} ORDER BY p")
        elif op == "insert":
            k = self.next_key
            self.next_key += 1
            row = [k, int(r.integers(0, self.n_cust)), str(r.choice(["F", "O", "P"])),
                   self._money(), str(r.choice(gen.PRIORITIES))]
            self.live.append(k)
            self.live_set.add(k)
            req.update(row=row, text=f"INSERT INTO {TABLE} VALUES ({row[0]}, {row[1]}, "
                                     f"'{row[2]}', {row[3]!r}, '{row[4]}')")
        elif op == "update":
            k = self._key(hit=0.95)
            price, st = self._money(), str(r.choice(["F", "O", "P"]))
            req.update(key=k, price=price, status=st, text=(
                f"UPDATE {TABLE} SET o_totalprice = {price!r}, o_orderstatus = '{st}' "
                f"WHERE o_orderkey = {k}"))
        elif op == "delete":
            k = self._key(hit=0.95)
            if k in self.live_set:
                self.live_set.discard(k)
                self.live.remove(k)
            req.update(key=k, text=f"DELETE FROM {TABLE} WHERE o_orderkey = {k}")
        return req

    def requests(self, n):
        block = [(op, v) for op, v, count in BLOCK for _ in range(count)]
        out = []
        while len(out) < n:
            reqs = [self.make(*block[i]) for i in self.rng.permutation(len(block))]
            # windows close between rounds of two blocks
            reqs[0]["boundary"] = len(out) % (2 * len(block)) == 0
            out += reqs
        return out

    def warmup(self):
        """Every operation and variant once, so each path is compiled, then
        one block, which the JIT would otherwise still be compiling for in
        the window."""
        return [self.make(op, v) for op, v, _ in BLOCK] + self.requests(BLOCK_SIZE)


def interactive(seed, frames):
    """Short SQL statements through GraftSql: kNN (IVF and exact), MATCH,
    point/range/aggregate reads and single-row writes on a managed table,
    and interval/sample reads over events."""
    rng = np.random.default_rng([seed, 2])
    mod = int(rng.integers(0, 8))
    orders = frames["orders"]
    subset = orders[orders["o_orderkey"] % 8 == mod]
    cols = ", ".join(ORDER_COLS)
    bulk = [f"CREATE TABLE {TABLE} (o_orderkey BIGINT, o_custkey BIGINT, "
            f"o_orderstatus VARCHAR(1), o_totalprice DOUBLE, o_orderpriority VARCHAR(15))",
            f"INSERT INTO {TABLE} SELECT {cols} FROM orders WHERE o_orderkey % 8 = {mod}"]
    stream = Stream(rng, frames, subset["o_orderkey"].tolist(), len(orders))
    warmup = stream.warmup()
    plan = {
        "setup_steps": [
            {"name": "index.ivf_build", "sql": [IVF_DDL]},
            # postings are built by the first MATCH on the indexed column
            {"name": "index.fulltext_build",
             "sql": ["CREATE FULLTEXT INDEX ft_docs ON documents(text)",
                     match_sql(TERMS[0], False)]},
            {"name": "dml.bulk_load", "sql": bulk}],
        "warmup": warmup,
        "requests": stream.requests(STREAM_LEN),
        "managed_tables": [TABLE],
        "final_sql": [f"SELECT {cols} FROM {TABLE} ORDER BY o_orderkey"],
        "probe_sql": PK_PROBE,
    }
    initial = {int(r.o_orderkey): (int(r.o_orderkey), int(r.o_custkey), r.o_orderstatus,
                                   float(r.o_totalprice), r.o_orderpriority)
               for r in subset.itertuples()}
    return plan, {"initial": initial}


# The PRIMARY KEY forms of the MySQL surface. They fail on the Spark
# catalog the program runs on, so they run once after the timed window
# and are reported beside the metrics, not timed; see README.md.
PK_PROBE = [
    "CREATE TABLE bench_pk (id BIGINT PRIMARY KEY, v VARCHAR(32))",
    "CREATE TABLE bench_pk2 (id BIGINT, v VARCHAR(32), PRIMARY KEY (id))",
    "CREATE TABLE bench_pk3 (id BIGINT AUTO_INCREMENT PRIMARY KEY, v VARCHAR(32))",
    "REPLACE INTO bench_pk VALUES (1, 'a')",
    "INSERT INTO bench_pk VALUES (1, 'b') ON DUPLICATE KEY UPDATE v = 'c'",
    "SELECT id, v FROM bench_pk WHERE id = 1",
    "DROP TABLE bench_pk",
]
PK_EXPECT = {5: [[1, "c"]]}
