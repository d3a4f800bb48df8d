"""Seeded input generator for the benchmark, run in DuckDB.

Every value is a pure function of (seed, row id, column salt) through
DuckDB's `hash`, so the same seed gives identical tables and a different
seed gives different data with the same shapes and value domains as the
engine's TPC-H-like test schema. Tables are written as
`<dir>/<table>.parquet`, the layout `graft.engine.Catalog.load` and the
DuckDB oracle both read.
"""
import json
import os

BASE_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
              "fast", "filter", "group", "hash", "join", "key", "line", "merge",
              "order", "part", "query", "row", "scan", "slow", "small", "sort",
              "spark", "stream", "table", "the", "value", "vector", "window"]
# The test schema's 31 words plus nine suffixed variants of each: 310 words,
# drawn with a skew so term frequencies span orders of magnitude (BM25 idf).
VOCAB = BASE_WORDS + [f"{w}{k}" for k in range(1, 10) for w in BASE_WORDS]


def _lit_list(xs):
    return "[" + ", ".join("'" + x.replace("'", "''") + "'" for x in xs) + "]"


class Gen:
    def __init__(self, con, seed):
        self.con = con
        self.seed = int(seed)

    def u(self, salt):
        """Uniform double in [0, 1) for row `id` and column salt `salt`."""
        return f"((hash({self.seed}, id, {salt}) % 1000003) / 1000003.0)"

    def ih(self, salt, n):
        """Uniform integer in [0, n)."""
        return f"(hash({self.seed}, id, {salt}) % {int(n)})"

    def pick(self, salt, xs):
        return f"({_lit_list(xs)})[1 + {self.ih(salt, len(xs))}::INTEGER]"

    def day(self, salt, start, span):
        return f"(TIMESTAMP '{start}' + to_days({self.ih(salt, span)}::INTEGER))"

    def write(self, sql, path):
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    def relational(self, d, sf):
        """The TPC-H-like tables at scale factor `sf` (6M*sf lineitem rows)."""
        n_cust = max(150, int(150000 * sf))
        n_supp = max(10, int(10000 * sf))
        n_part = max(200, int(200000 * sf))
        n_ord = max(1500, int(1500000 * sf))
        n_line = max(6000, int(6000000 * sf))
        regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        self.write("SELECT CAST(i AS INTEGER) AS r_regionkey, "
                   f"({_lit_list(regions)})[i + 1] AS r_name FROM range(5) t(i)",
                   f"{d}/region.parquet")
        self.write("SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
                   "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
                   f"{d}/nation.parquet")
        self.write(f"""SELECT id AS c_custkey, printf('Customer#%09d', id) AS c_name,
            {self.ih(1, 25)}::INTEGER AS c_nationkey,
            round(-999.99 + {self.u(2)} * 10999.98, 2) AS c_acctbal,
            {self.pick(3, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])}
              AS c_mktsegment
            FROM range({n_cust}) t(id)""", f"{d}/customer.parquet")
        self.write(f"""SELECT id AS s_suppkey, printf('Supplier#%09d', id) AS s_name,
            {self.ih(11, 25)}::INTEGER AS s_nationkey,
            round(-999.99 + {self.u(12)} * 10999.98, 2) AS s_acctbal
            FROM range({n_supp}) t(id)""", f"{d}/supplier.parquet")
        adj = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
        noun = ["ring", "gear", "bolt", "plate", "anvil", "rod", "widget", "gizmo"]
        self.write(f"""SELECT id AS p_partkey,
            {self.pick(21, adj)} || ' ' || {self.pick(22, noun)} AS p_name,
            'Brand#' || (1 + {self.ih(23, 25)}) AS p_brand,
            {self.pick(24, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])} AS p_type,
            (1 + {self.ih(25, 50)})::INTEGER AS p_size,
            round(900.0 + (id % 1000) * 0.1, 1)::DOUBLE AS p_retailprice
            FROM range({n_part}) t(id)""", f"{d}/part.parquet")
        self.write(f"""SELECT id AS o_orderkey, {self.ih(31, n_cust)}::BIGINT AS o_custkey,
            {self.pick(32, ["F", "O", "P"])} AS o_orderstatus,
            round(1000.0 + {self.u(33)} * 499000.0, 2) AS o_totalprice,
            {self.day(34, '1995-01-01', 2400)} AS o_orderdate,
            {self.pick(35, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])}
              AS o_orderpriority
            FROM range({n_ord}) t(id)""", f"{d}/orders.parquet")
        self.write(f"""SELECT {self.ih(41, n_ord)}::BIGINT AS l_orderkey,
            {self.ih(42, n_part)}::BIGINT AS l_partkey,
            {self.ih(43, n_supp)}::BIGINT AS l_suppkey,
            (1 + {self.ih(44, 7)})::INTEGER AS l_linenumber,
            (1 + {self.ih(45, 50)})::DOUBLE AS l_quantity,
            round(900.0 + {self.u(46)} * 104100.0, 2) AS l_extendedprice,
            {self.ih(47, 11)} / 100.0 AS l_discount,
            {self.ih(48, 9)} / 100.0 AS l_tax,
            {self.pick(49, ["A", "N", "R"])} AS l_returnflag,
            {self.pick(50, ["F", "O"])} AS l_linestatus,
            {self.day(51, '1995-01-02', 2500)} AS l_shipdate
            FROM range({n_line}) t(id)""", f"{d}/lineitem.parquet")

    def docs_sql(self, ids_sql):
        """Documents for the ids `ids_sql` yields (column `id`): 10 to 99
        words each."""
        vocab = ", ".join(f"({k + 1}, '{w}')" for k, w in enumerate(VOCAB))
        return f"""WITH voc(k, word) AS (VALUES {vocab}),
            pos AS (SELECT id, unnest(range(10 + {self.ih(71, 90)}::INTEGER)) AS i
                    FROM ({ids_sql}) ids),
            w AS (SELECT id, i, 1 + floor({len(VOCAB)} * pow(
                    (hash({self.seed}, id, i, 72) % 1000003) / 1000003.0, 2))::INTEGER AS k
                  FROM pos)
            SELECT id AS doc_id, string_agg(word, ' ' ORDER BY i) AS text
            FROM w JOIN voc USING (k) GROUP BY id"""

    def emb_sql(self, ids_sql):
        """64-dim float embeddings, one per document id (`vec_id == doc_id`,
        so lexical and dense retrieval share an id space): 10 seeded
        cluster centers, 30 seeded sub-centers in each, and a small noise,
        so every vector has a few true near neighbors for ANN to find."""
        return f"""SELECT id AS vec_id, list_transform(range(64), dd -> (
              ((hash({self.seed}, lab, dd, 82) % 1000003) / 1000003.0 - 0.5) * 0.5
              + ((hash({self.seed}, lab, sub, dd, 85) % 1000003) / 1000003.0 - 0.5) * 0.25
              + 0.03 * ((hash({self.seed}, id, dd, 83) % 1000003) / 1000003.0
                      + (hash({self.seed}, id, dd, 84) % 999983) / 999983.0 - 1.0))::FLOAT)
              AS embedding, lab::INTEGER AS label
            FROM (SELECT id, {self.ih(81, 10)} AS lab, {self.ih(86, 30)} AS sub
                  FROM ({ids_sql}) i0) ids"""

    def corpus(self, d, n_docs):
        ids = f"SELECT id FROM range({n_docs}) t(id)"
        self.write(f"SELECT doc_id, text FROM ({self.docs_sql(ids)}) x ORDER BY doc_id",
                   f"{d}/documents.parquet")
        self.write(f"SELECT * FROM ({self.emb_sql(ids)}) x ORDER BY vec_id",
                   f"{d}/embeddings.parquet")

    def ingest_batches(self, d, base_n, n_batches, size, n_exact, n_near, n_del):
        """`n_batches` batches of `size` new documents each. Every batch
        plants `n_exact` exact copies and `n_near` one-word edits of base
        documents of at least 40 words (word-3-gram Jaccard >= 0.85 with
        their source), and names `n_del` base documents to delete. Writes
        `batch_<b>.parquet` (doc_id, text), `emb_<b>.parquet` and a
        `ledger.json` of the planted ids."""
        con = self.con
        con.execute(f"CREATE OR REPLACE TEMP TABLE base AS "
                    f"SELECT * FROM read_parquet('{d}/documents.parquet')")
        long_ids = [r[0] for r in con.execute(
            "SELECT doc_id FROM base WHERE len(string_split(text, ' ')) >= 40 "
            f"ORDER BY hash({self.seed}, doc_id, 91)").fetchall()]
        all_ids = [r[0] for r in con.execute(
            f"SELECT doc_id FROM base ORDER BY hash({self.seed}, doc_id, 92)").fetchall()]
        ledger = []
        src_i = 0
        for b in range(n_batches):
            first = base_n + b * size
            ids = f"SELECT id FROM range({first}, {first + size}) t(id)"
            con.execute(f"CREATE OR REPLACE TEMP TABLE fresh AS {self.docs_sql(ids)}")
            exact = list(range(first, first + n_exact))
            near = list(range(first + n_exact, first + n_exact + n_near))
            srcs = long_ids[src_i:src_i + n_exact + n_near]
            src_i += n_exact + n_near
            rows = []
            for k, nid in enumerate(exact):
                rows.append(f"({nid}, {srcs[k]}, -1)")
            for k, nid in enumerate(near):
                rows.append(f"({nid}, {srcs[n_exact + k]}, {k})")
            con.execute("CREATE OR REPLACE TEMP TABLE plant(nid BIGINT, src BIGINT, edit INTEGER)")
            con.execute("INSERT INTO plant VALUES " + ", ".join(rows))
            # A near-duplicate replaces one word (chosen by seed) with a word
            # outside the vocabulary, so no planted copy is exact by accident.
            self.write(f"""SELECT f.doc_id, CASE
                  WHEN p.nid IS NULL THEN f.text
                  WHEN p.edit < 0 THEN s.text
                  ELSE array_to_string(list_transform(string_split(s.text, ' '),
                    (w, i) -> CASE WHEN i = 1 + hash({self.seed}, p.nid, 93)
                                   % len(string_split(s.text, ' '))
                              THEN 'edit' || p.nid ELSE w END), ' ') END AS text
                FROM fresh f LEFT JOIN plant p ON f.doc_id = p.nid
                LEFT JOIN base s ON s.doc_id = p.src ORDER BY f.doc_id""",
                       f"{d}/batch_{b}.parquet")
            self.write(f"SELECT * FROM ({self.emb_sql(ids)}) x ORDER BY vec_id",
                       f"{d}/emb_{b}.parquet")
            dels = all_ids[b * n_del:(b + 1) * n_del]
            ledger.append({"exact": exact, "near": near, "deletes": dels})
        with open(f"{d}/ledger.json", "w") as f:
            json.dump(ledger, f)


def generate(workload, seed, data_dir, sizes):
    import duckdb
    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    g = Gen(con, seed)
    g.corpus(data_dir, sizes["docs"])
    if workload == "relational":
        g.relational(data_dir, sizes["sf"])
    else:
        g.ingest_batches(data_dir, sizes["docs"], sizes["batches"],
                         sizes["batch_size"], sizes["exact"], sizes["near"],
                         sizes["deletes"])
    con.close()
