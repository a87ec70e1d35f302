"""Seeded statement streams. The same seed gives the same statements in
the same order on every client; nothing here touches the engine."""
import random

# The llm kernels ingest_mixed's traced run times: the five latency-bound
# ones the roadmap carries forward, the KN trigram language model, and
# two sketches
LLM_QUERIES = [
    "llm_knn_ivfpq", "llm_bpe_encode", "llm_dedup_sorted_neighborhood", "llm_pca_power",
    "ml_learn_libsvm_nystrom", "llm_kn_trigram_lm", "sketch_approx_percentile",
    "sketch_hll_merge",
]
# Kernels checked by row count because DuckDB cannot run their oracle on
# this fixture (llm_bpe_encode's recursive merges exceed 5 GB at sf0.1):
# one row per document with a word.
LLM_ROW_COUNTS = {
    "llm_bpe_encode": "SELECT count(DISTINCT doc_id) FROM documents, "
                      "unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t(w)",
}

INGEST_TABLE = "bench_ingest"
INGEST_COLUMNS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
                  "l_extendedprice, l_discount, l_shipdate")
# orders per INSERT batch (about 4 lineitems each)
INGEST_BATCH_ORDERS = 400
# ingest_mixed runs its own traffic this long, untimed, before its window:
# latencies fell by up to a third over the first 15 s without it
INGEST_WARM_S = 5.0


class Keys:
    """Key domains read once from the fixture, sorted, so that seeded
    choices name rows that exist and no lookup comes back empty."""

    def __init__(self, orderkeys, custkeys, nationkeys):
        self.orderkeys, self.custkeys, self.nationkeys = orderkeys, custkeys, nationkeys

    @staticmethod
    def load(con):
        col = lambda sql: [r[0] for r in con.execute(sql).fetchall()]
        return Keys(col("SELECT o_orderkey FROM orders ORDER BY 1"),
                    col("SELECT c_custkey FROM customer ORDER BY 1"),
                    col("SELECT n_nationkey FROM nation ORDER BY 1"))


def point_statement(kind, rng, keys):
    """One short, selective statement of the given kind, with seeded keys."""
    if kind == "orders_by_key":
        return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
                f"FROM orders WHERE o_orderkey = {rng.choice(keys.orderkeys)}")
    if kind == "customer_by_key":
        return ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                f"FROM customer WHERE c_custkey = {rng.choice(keys.custkeys)}")
    if kind == "lineitem_by_order":
        return ("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice "
                f"FROM lineitem WHERE l_orderkey = {rng.choice(keys.orderkeys)}")
    if kind == "nation_join_agg":
        return ("SELECT n_name, count(*) AS customers, sum(c_acctbal) AS balance "
                "FROM customer JOIN nation ON c_nationkey = n_nationkey "
                f"WHERE n_nationkey = {rng.choice(keys.nationkeys)} GROUP BY n_name")
    if kind == "show_tables":
        return "SHOW TABLES"
    if kind == "describe":
        return f"DESCRIBE {rng.choice(['orders', 'customer', 'lineitem', 'nation'])}"
    return growing_statement_of(kind)


# The kinds ingest_mixed's readers send and how many of each one deck
# holds: point statements, plus the aggregate over the growing table and
# the same aggregate over lineitem. A client deals a seed-shuffled deck at
# a time, so every seed sends the same mix and only the order and the
# keys differ.
READER_DECK = {"orders_by_key": 5, "customer_by_key": 4, "lineitem_by_order": 4,
               "nation_join_agg": 4, "show_tables": 2, "describe": 1,
               "growing_read": 3, "static_read": 3}


def growing_statement_of(kind):
    """The same aggregate over the ingest table or over lineitem."""
    table = INGEST_TABLE if kind == "growing_read" else "lineitem"
    return f"SELECT count(*) AS n, sum(l_quantity) AS qty FROM {table}"


def insert_statement(rng, keys):
    """(kind, sql, batch SELECT) for one seeded batch of orders."""
    i = rng.randrange(len(keys.orderkeys) - INGEST_BATCH_ORDERS)
    lo, hi = keys.orderkeys[i], keys.orderkeys[i + INGEST_BATCH_ORDERS - 1]
    select = (f"SELECT {INGEST_COLUMNS} FROM lineitem "
              f"WHERE l_orderkey BETWEEN {lo} AND {hi}")
    return ("insert", f"INSERT INTO {INGEST_TABLE} {select}", select)


def create_ingest_table():
    return (f"CREATE TABLE {INGEST_TABLE} AS SELECT {INGEST_COLUMNS} "
            "FROM lineitem WHERE false")


class Stream:
    """An endless seeded statement stream for one client."""

    def __init__(self, workload, seed, client, keys=None, tpch=None):
        self.rng = random.Random(f"{workload}/{seed}/{client}")
        self.workload, self.client, self.keys, self.tpch = workload, client, keys, tpch
        self.deck = []
        self.passes = 0  # decks dealt so far

    def deal(self, cards):
        if not self.deck:
            self.deck = list(cards)
            self.rng.shuffle(self.deck)
            self.passes += 1
        return self.deck.pop()

    def next(self):
        """(kind, sql, extra): extra is the batch SELECT for inserts."""
        w = self.workload
        if w == "tpch_analytic":
            # a fresh seed-shuffled pass over all 22 texts
            name, sql = self.deal(self.tpch)
            return name, sql, None
        if w != "ingest_mixed":
            raise ValueError(f"unknown workload {w}")
        if self.client == 0:
            return insert_statement(self.rng, self.keys)
        kind = self.deal([k for k, n in READER_DECK.items() for _ in range(n)])
        return kind, point_statement(kind, self.rng, self.keys), None

    def take(self, n):
        return [self.next() for _ in range(n)]
