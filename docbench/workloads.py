"""The three benchmark workloads: query text, answer checks and write-backs.

Every op goes through the package's public surface only: ``dms.attach`` /
``AttachedCatalog.table``, ``MongoFrame`` / ``mongo_scan``, ``ops.*``,
``sinks.write_collection`` and ``ops.text_index.build_text_stats_index``.
A read op returns a fresh DataFrame that the harness drains to Arrow; a
write or index op performs its own action.  Each op carries a check that
raises ``WrongAnswer``; the expected values come from plain Python over the
generated documents (doc_federation), from DuckDB over the same parquet
files (columnar_analytics), or from invariants and a DuckDB BM25 oracle
(curation_rw).
"""

from __future__ import annotations

import json
import math
import os
import random
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import duckdb
import pyarrow as pa

import duckdb_mongo_spark as dms
from duckdb_mongo_spark.ops import dedup, joins, similarity, span_dedup, text
from duckdb_mongo_spark.ops.text_index import build_text_stats_index
from duckdb_mongo_spark.pushdown import C
from pyspark.sql import functions as F

from gen import jline


class WrongAnswer(AssertionError):
    pass


@dataclass
class Op:
    """One timed operation.  Exactly one of ``build`` (returns a DataFrame
    the harness drains with ``toArrow``) and ``act`` (performs its own
    action, returns a value) is set; ``check`` gets the drained table or
    the returned value."""

    name: str
    kind: str  # read | write | index
    check: Callable
    build: Callable | None = None
    act: Callable | None = None
    docs: int = 0  # input documents the op carries
    in_bytes: int = 0  # write ops: generated bytes of the documents written


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise WrongAnswer(what)


def close(a, b, rel=1e-9, abs_=1e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def rows_of(tbl) -> list[tuple]:
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return list(zip(*cols))


def same_rows(got: list[tuple], want: list[tuple], what: str, ordered=False) -> None:
    if not ordered:
        key = lambda r: tuple((v is None, str(v)) for v in r)
        got, want = sorted(got, key=key), sorted(want, key=key)
    expect(len(got) == len(want), f"{what}: {len(got)} rows, want {len(want)}")
    for g, w in zip(got, want):
        expect(len(g) == len(w) and all(
            close(x, y) if isinstance(y, float) else x == y for x, y in zip(g, w)
        ), f"{what}: row {g} != {w}")


def dir_bytes(path: str) -> tuple[int, int]:
    """(regular files, bytes) under a collection directory."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Workload:
    name = ""

    def __init__(self, manifest: dict):
        self.m = manifest
        self.spark = None

    def setup(self, spark) -> None:
        """Attach, resolve schemas, build indexes (timed as set-up)."""
        raise NotImplementedError

    def round_ops(self, r: int) -> list[Op]:
        raise NotImplementedError

    out_path = ""  # the collection the workload writes

    def stored_ratio(self) -> float:
        """On-disk bytes of the written collection / generated bytes of the
        documents it holds."""
        raise NotImplementedError

    def out_files(self) -> int:
        return dir_bytes(self.out_path)[0]

    def warm_writes(self) -> None:
        """Untimed extra writes after the warm-up round (default: none)."""


# -- doc_federation -----------------------------------------------------------


class DocFederation(Workload):
    name = "doc_federation"

    def __init__(self, manifest):
        super().__init__(manifest)
        docs = manifest["docs"]
        self.n_docs = len(docs)
        self.n_regions = len(manifest["regions"])
        active = {r["_id"] for r in manifest["regions"] if r["active"]}
        rating = lambda d: d["rating"] if isinstance(d["rating"], float) else None
        self.want = {
            "selective": [(d["_id"], d["score"]) for d in docs if d["score"] > 98.5],
            "broad": [
                (d["_id"], d["user"]["age"], rating(d), d["city"])
                for d in docs if d["user"]["age"] >= 30
            ],
            "count": [(sum(1 for d in docs if d["status"] == "active"),)],
            "group": [
                (t, sum(1 for d in docs if d["user"]["tier"] == t),
                 sum(d["score"] for d in docs if d["user"]["tier"] == t))
                for t in sorted({d["user"]["tier"] for d in docs})
            ],
            "topn": [(i,) for i in sorted(
                (d["_id"] for d in docs if d["status"] == "idle"), reverse=True)[:20]],
            "semi": [(d["_id"], d["city"]) for d in docs if d["city"] in active],
        }
        skus: dict = {}
        for d in docs:
            for it in d["items"]:
                n, q = skus.get(it["sku"], (0, 0))
                skus[it["sku"]] = (n + 1, q + it["qty"])
        self.want["unwind"] = [(s, n, q) for s, (n, q) in skus.items()]
        con = duckdb.connect()
        con.register("users", pa.table({"_id": [d["_id"] for d in docs],
                                         "status": [d["status"] for d in docs]}))
        self.want["orders_join"] = con.execute(f"""
            SELECT u.status, count(*), sum(o.amount) FROM users u JOIN
            read_parquet('{manifest["root"]}/pq/orders.parquet') o ON o.user_id = u._id
            GROUP BY 1""").fetchall()
        con.close()
        self.n_orders = manifest["collections"]["orders"]["docs"]
        self.out_docs = [d for d in docs if d["status"] == "new"]
        self.out_bytes = sum(len(jline(d).encode()) for d in self.out_docs)
        self.out_path = os.path.join(manifest["root"], "db", "fed_out")

    def setup(self, spark):
        self.spark = spark
        self.cat = dms.attach(f"jsonl:{self.m['root']}", alias="fed", spark=spark)
        self.cat.table("docs", db="db")
        self.cat.table("regions", db="db")
        self.pq = dms.attach(f"parquet:{self.m['root']}/pq", alias="fedpq", spark=spark)
        self.pq.table("orders")

    def _docs(self):
        return self.cat.table("docs", db="db")

    def _check(self, key, ordered=False):
        return lambda tbl: same_rows(rows_of(tbl), self.want[key], key, ordered)

    def _write_out(self):
        df = self._docs().filter(C("status") == "new").df()
        dms.write_collection(df, self.cat.backend, "db", "fed_out", mode="overwrite")
        return self.out_path

    def _check_out(self, path):
        ids = []
        for f in sorted(os.listdir(path)):
            if f.endswith(".jsonl"):
                with open(os.path.join(path, f)) as fh:
                    ids.extend(json.loads(line)["_id"] for line in fh)
        expect(sorted(ids) == [d["_id"] for d in self.out_docs], "write-back ids")

    def round_ops(self, r):
        n = self.n_docs
        docs = self._docs
        return [
            Op("selective", "read", self._check("selective"), docs=n,
               build=lambda: docs().filter(C("score") > 98.5).select("_id", "score").df()),
            Op("broad", "read", self._check("broad"), docs=n,
               build=lambda: docs().filter(C("user.age") >= 30)
               .select("_id", "user.age", "rating", "city").df()),
            Op("count", "read", self._check("count"), docs=n,
               build=lambda: docs().filter(C("status") == "active").count_rows().df()),
            Op("group", "read", self._check("group"), docs=n,
               build=lambda: docs().group_by("user.tier")
               .agg(("count_star", None, "n"), ("sum", "score", "s")).df()),
            Op("topn", "read", self._check("topn", ordered=True), docs=n,
               build=lambda: docs().filter(C("status") == "idle")
               .order_by_id(descending=True).limit(20).select("_id").df()),
            Op("semi_join", "read", self._check("semi"), docs=n + self.n_regions,
               build=lambda: docs().semi_join_in(
                   self.cat.table("regions", db="db").filter(C("active") == True),  # noqa: E712
                   on="city", build_col="_id").select("_id", "city").df()),
            Op("unwind_group", "read", self._check("unwind"), docs=n,
               build=lambda: dms.mongo_scan(
                   self.spark, self.cat.backend, "db", "docs",
                   pipeline=[{"$unwind": "$items"}, {"$group": {
                       "_id": "$items.sku", "n": {"$sum": 1},
                       "q": {"$sum": "$items.qty"}}}]).df()),
            Op("orders_join", "read", self._check("orders_join"), docs=n + self.n_orders,
               build=lambda: docs().select("_id", "status").df()
               .join(self.pq.table("orders").df().withColumnRenamed("_id", "order_id")
                     .withColumnRenamed("user_id", "_id"), "_id")
               .groupBy("status").agg(F.count(F.lit(1)), F.sum("amount"))),
            Op("write_back", "write", self._check_out, docs=n, act=self._write_out,
               in_bytes=self.out_bytes),
        ]

    def stored_ratio(self):
        return dir_bytes(self.out_path)[1] / self.out_bytes


# -- columnar_analytics -------------------------------------------------------


COL_SQL = {
    "star_join": """
        SELECT st.region, p.category, count(*) AS n, sum(s.amount) AS amount,
               sum(s.qty * p.price) AS list_value
        FROM sales s JOIN products p ON s.product_id = p._id
        JOIN stores st ON s.store_id = st._id GROUP BY 1, 2""",
    "window_topk": """
        SELECT store_id, product_id, revenue, rk FROM (
          SELECT store_id, product_id, revenue, row_number() OVER (
            PARTITION BY store_id ORDER BY revenue DESC, product_id) AS rk
          FROM (SELECT store_id, product_id, sum(amount) AS revenue
                FROM sales GROUP BY 1, 2)) WHERE rk <= 3""",
    "asof_join": """
        SELECT count(q.price), sum(q.price) FROM events e
        ASOF LEFT JOIN quotes q ON e.key = q.key AND e.t >= q.t""",
    "interval_join": """
        SELECT i.label, count(*), sum(e.val) FROM events e JOIN intervals i
        ON e.key = i.key AND e.t BETWEEN i.lo AND i.hi GROUP BY 1""",
    "count": "SELECT count(*) FROM sales",
    "topn": "SELECT _id, amount FROM sales ORDER BY _id DESC LIMIT 10",
    "selective": """SELECT _id, product_id, amount FROM sales
                    WHERE store_id = 7 AND amount > 490""",
    "events_key": "SELECT _id, t, val FROM events WHERE key = 3",
    "products_cat": "SELECT _id, price FROM products WHERE category = 'cat03'",
    "write_back": "SELECT * FROM events WHERE key < 10 ORDER BY _id",
}


class ColumnarAnalytics(Workload):
    name = "columnar_analytics"

    def __init__(self, manifest):
        super().__init__(manifest)
        root = manifest["root"]
        con = duckdb.connect()
        for t in manifest["collections"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet')")
        self.want = {k: con.execute(q).fetchall() for k, q in COL_SQL.items()}
        cols = [c[0] for c in con.execute(COL_SQL["write_back"]).description]
        out = [dict(zip(cols, r)) for r in self.want.pop("write_back")]
        self.out_ids = [d["_id"] for d in out]
        self.out_bytes = sum(len(jline(d).encode()) for d in out)
        con.close()
        self.rows = {t: c["docs"] for t, c in manifest["collections"].items()}
        self.out_path = os.path.join(root, "events_out.parquet")

    def setup(self, spark):
        self.spark = spark
        self.cat = dms.attach(f"parquet:{self.m['root']}", alias="col", spark=spark)
        for t in self.rows:
            self.cat.table(t)

    def _t(self, name):
        return self.cat.table(name)

    def _check(self, key, ordered=False):
        return lambda tbl: same_rows(rows_of(tbl), self.want[key], key, ordered)

    def _star_join(self):
        s, p, st = self._t("sales").df(), self._t("products").df(), self._t("stores").df()
        return (
            s.join(p.withColumnRenamed("_id", "product_id"), "product_id")
            .join(st.withColumnRenamed("_id", "store_id"), "store_id")
            .groupBy("region", "category")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amount"),
                 F.sum(F.col("qty") * F.col("price")).alias("list_value"))
        )

    def _window_topk(self):
        from pyspark.sql import Window

        rev = self._t("sales").group_by("store_id", "product_id").agg(
            ("sum", "amount", "revenue")).df()
        w = Window.partitionBy("store_id").orderBy(F.col("revenue").desc(), "product_id")
        return (rev.withColumn("rk", F.row_number().over(w)).filter("rk <= 3")
                .select("store_id", "product_id", "revenue", "rk"))

    def _asof(self):
        ev = self._t("events").df().select("key", "t")
        qu = self._t("quotes").df().select("key", "t", "price")
        j = joins.asof_join(ev, qu, on="t", by=["key"])
        return j.agg(F.count("price"), F.sum("price"))

    def _interval(self):
        ev = self._t("events").df().select("key", "t", "val")
        iv = self._t("intervals").df().select("key", "lo", "hi", "label")
        j = joins.interval_join_points(ev, "t", iv, lo_col="lo", hi_col="hi",
                                       on=["key"], bin_width=3600.0)
        return j.groupBy("label").agg(F.count(F.lit(1)), F.sum("val"))

    def _write_out(self):
        df = self._t("events").filter(C("key") < 10).df()
        dms.write_collection(df, self.cat.backend, "main", "events_out", mode="overwrite")
        return self.out_path

    def _check_out(self, path):
        import pyarrow.dataset as ds

        ids = ds.dataset(path, format="parquet").to_table(columns=["_id"])["_id"].to_pylist()
        expect(sorted(ids) == self.out_ids, "write-back ids")

    def round_ops(self, r):
        n = self.rows
        return [
            Op("star_join", "read", self._check("star_join"), build=self._star_join,
               docs=n["sales"] + n["products"] + n["stores"]),
            Op("window_topk", "read", self._check("window_topk"), build=self._window_topk,
               docs=n["sales"]),
            Op("asof_join", "read", self._check("asof_join"), build=self._asof,
               docs=n["events"] + n["quotes"]),
            Op("interval_join", "read", self._check("interval_join"), build=self._interval,
               docs=n["events"] + n["intervals"]),
            Op("count", "read", self._check("count"), docs=n["sales"],
               build=lambda: self._t("sales").count_rows().df()),
            Op("topn", "read", self._check("topn", ordered=True), docs=n["sales"],
               build=lambda: self._t("sales").order_by_id(descending=True).limit(10)
               .select("_id", "amount").df()),
            Op("selective", "read", self._check("selective"), docs=n["sales"],
               build=lambda: self._t("sales").filter(C("store_id") == 7)
               .filter(C("amount") > 490).select("_id", "product_id", "amount").df()),
            Op("events_key", "read", self._check("events_key"), docs=n["events"],
               build=lambda: self._t("events").filter(C("key") == 3)
               .select("_id", "t", "val").df()),
            Op("products_cat", "read", self._check("products_cat"), docs=n["products"],
               build=lambda: self._t("products").filter(C("category") == "cat03")
               .select("_id", "price").df()),
            Op("write_back", "write", self._check_out, act=self._write_out,
               docs=n["events"], in_bytes=self.out_bytes),
        ]

    def stored_ratio(self):
        return dir_bytes(self.out_path)[1] / self.out_bytes


# -- curation_rw --------------------------------------------------------------


SEARCH_K = 10
WRITTEN = ("curated", "rejected", "quality", "near_pairs", "span_stats", "neighbors")
CURATED_SCHEMA = "_id string, batch long, text string, emb array<double>"

BM25_SQL = """
WITH toks AS (
  SELECT _id, unnest(regexp_extract_all(lower(text), '[0-9a-z]+')) AS tok
  FROM read_json(?, format='newline_delimited', columns={_id: 'VARCHAR', text: 'VARCHAR'})
), dl AS (SELECT _id, count(*) AS len FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n, avg(len) AS avgdl FROM dl),
q AS (SELECT unnest(?::VARCHAR[]) AS tok),
tf AS (SELECT t._id, t.tok, count(*) AS tf FROM toks t JOIN q USING (tok) GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT _id) AS df FROM tf GROUP BY 1)
SELECT tf._id, sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
       * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / stats.avgdl))) AS score
FROM tf JOIN df USING (tok) JOIN dl USING (_id), stats
GROUP BY 1 ORDER BY score DESC, _id
"""


class CurationRW(Workload):
    """One cycle per round: read a batch, run the curation kernels, append
    each kernel's output to its own collection (the kept documents to
    ``curated``), read the kept ones back, rebuild the BM25 sidecar and run
    a ``$search`` over the curated collection."""

    name = "curation_rw"

    def __init__(self, manifest):
        super().__init__(manifest)
        self.docs = manifest["docs"]
        self.by_batch: dict[int, list[dict]] = {}
        for d in self.docs:
            self.by_batch.setdefault(d["batch"], []).append(d)
        self.n_batches = len(self.by_batch)
        dup = {b for _, b in manifest["exact_pairs"]}
        self.near_pairs = set(manifest["near_pairs"])
        drop = dup | {b for _, b in self.near_pairs}
        self.exact_keep = {}
        for b, ds in self.by_batch.items():
            first = {}
            for d in ds:
                first.setdefault(d["text"], d["_id"])
                first[d["text"]] = min(first[d["text"]], d["_id"])
            self.exact_keep[b] = sorted(first.values())
        self.kept = {b: sorted(d["_id"] for d in ds if d["_id"] not in drop)
                     for b, ds in self.by_batch.items()}
        self.span_docs: dict[int, list[str]] = {}
        for b, did in manifest["span_docs"]:
            self.span_docs.setdefault(b, []).append(did)
        self.line_bytes = manifest["line_bytes"]
        vocab = sorted({w for d in self.docs[:400] for w in d["text"].split()})
        qr = random.Random(f"queries:{manifest['seed']}")
        self.queries = [" ".join(qr.sample(vocab, 2)) for _ in range(8)]
        self.out_path = os.path.join(manifest["root"], "db", "curated")
        self.written: Counter = Counter()

    def setup(self, spark):
        import shutil

        self.spark = spark
        for coll in WRITTEN:
            shutil.rmtree(os.path.join(self.m["root"], "db", coll), ignore_errors=True)
        self.written = Counter()
        self.cat = dms.attach(f"jsonl:{self.m['root']}", alias="cur", spark=spark)
        self.cat.table("raw", db="db")
        # the curated collection starts as batch 0's kept documents
        keep = set(self.kept[0])
        seed = [d for d in self.by_batch[0] if d["_id"] in keep]
        dms.write_collection(self.spark.createDataFrame(seed, CURATED_SCHEMA),
                             self.cat.backend, "db", "curated", mode="overwrite")
        self.written[0] = 1
        # no sidecar build here: the first append makes it stale, and every
        # cycle rebuilds it as a timed op
        self.cat.table("curated", db="db")

    def warm_writes(self, times=8):
        """Append batch 0 to a scratch collection ``times`` times, then drop
        it: one warm-up cycle leaves the append path colder than the reads
        (its first timed appends ran ~25% slower than later ones)."""
        import shutil

        tbl = pa.Table.from_pylist(self.by_batch[0])
        for _ in range(times):
            dms.write_collection(self.spark.createDataFrame(tbl), self.cat.backend,
                                 "db", "warm", mode="append")
        shutil.rmtree(os.path.join(self.m["root"], "db", "warm"))

    # -- kernels: a cycle reads its batch once; each kernel op builds a
    # fresh DataFrame over that in-memory batch
    def _read_batch(self, state, b):
        state.clear()
        return self.cat.table("raw", db="db").filter(C("batch") == b).select(
            "_id", "batch", "text", "emb").df()

    def _bdf(self, state):
        return self.spark.createDataFrame(state["batch"])

    def _near(self, state):
        return dedup.near_dup_pairs_minhash_lsh(
            self._bdf(state), "_id", "text", threshold=0.8, k=12, bands=6)

    def _append(self, coll, tbl, b=None):
        """Append ``tbl`` to collection ``coll``.  Returns what the check
        needs to read back exactly the part files this append added."""
        path = os.path.join(self.m["root"], "db", coll)
        before = set(os.listdir(path)) if os.path.isdir(path) else set()
        dms.write_collection(self.spark.createDataFrame(tbl), self.cat.backend,
                             "db", coll, mode="append")
        if coll == "curated":
            self.written[b] += 1
        return path, before, tbl.num_rows

    def _kept(self, state, rejected=False):
        """The batch's documents the dedup kernels kept (or rejected)."""
        import pyarrow.compute as pc

        keep = set(state["exact"]) - set(state["near_b"])
        tbl = state["batch"]
        mask = pc.is_in(tbl.column("_id"), pa.array(sorted(keep)))
        return tbl.filter(pc.invert(mask) if rejected else mask)

    def _queries(self, b):
        ds = self.by_batch[b]
        qr = random.Random(f"vec:{b}")
        picks = qr.sample(ds, 4)
        return [(i, [x + qr.gauss(0.0, 0.01) for x in d["emb"]]) for i, d in enumerate(picks)]

    def _cosine(self, state, b):
        q = self.spark.createDataFrame(self._queries(b), "q_id long, q_vec array<double>")
        return similarity.cosine_topk(q, self._bdf(state), k=5, c_id="_id", c_vec="emb")

    def _search_pipe(self, r):
        return [{"$search": {"text": {"query": self.queries[r % len(self.queries)], "path": "text"}}},
                {"$limit": SEARCH_K},
                {"$project": {"_id": 1, "score": {"$meta": "searchScore"}}}]

    # -- checks
    def _check_append(self, coll, want_ids=None):
        """The part files an append added hold exactly the rows it was given
        (and, where the answer is known from the generator, these ids)."""
        def check(res):
            path, before, rows = res
            docs = []
            for f in sorted(set(os.listdir(path)) - before):
                if f.endswith(".jsonl"):
                    with open(os.path.join(path, f)) as fh:
                        docs.extend(json.loads(line) for line in fh)
            expect(len(docs) == rows, f"{coll}: {len(docs)} rows on disk, appended {rows}")
            if want_ids is not None:
                expect(sorted(d["_id"] for d in docs) == want_ids, f"{coll}: appended ids")
        return check

    def _check_ids(self, want, what, state=None, key=None):
        def check(tbl):
            ids = sorted(tbl.column("_id").to_pylist())
            if state is not None:
                state[key] = ids
            expect(ids == want, what)
        return check

    def _check_stats(self, state, b):
        check_ids = self._check_ids(sorted(self.batch_ids(b)), "text stats ids")

        def check(tbl):
            state["stats"] = tbl
            check_ids(tbl)
        return check

    def _check_batch_read(self, state, b):
        check_ids = self._check_ids(sorted(self.batch_ids(b)), "batch read ids")

        def check(tbl):
            state["batch"] = tbl
            check_ids(tbl)
        return check

    def _check_near(self, state, b):
        def check(tbl):
            state["pairs"] = tbl
            got = set(zip(tbl.column("a").to_pylist(), tbl.column("b").to_pylist()))
            state["near_b"] = sorted({p[1] for p in got})
            want = {p for p in self.near_pairs if p[0] in self.batch_ids(b)}
            expect(want <= got, f"near-dup pairs missing: {sorted(want - got)}")
        return check

    def batch_ids(self, b):
        return {d["_id"] for d in self.by_batch[b]}

    def _check_spans(self, state, b):
        def check(tbl):
            state["spans"] = tbl
            removed = dict(zip(tbl.column("_id").to_pylist(),
                               tbl.column("n_tokens_removed").to_pylist()))
            expect(len(removed) == len(self.by_batch[b]), "span dedup row count")
            for did in sorted(self.span_docs[b])[1:]:
                expect((removed.get(did) or 0) >= 30, f"shared span kept in {did}")
        return check

    def _check_cosine(self, state, b):
        def cos(a, v):
            na = math.sqrt(sum(x * x for x in a))
            nv = math.sqrt(sum(x * x for x in v))
            return round(sum(x * y for x, y in zip(a, v)) / (na * nv), similarity.ROUND)

        want = []
        for qid, vec in self._queries(b):
            scored = sorted(((-cos(vec, d["emb"]), d["_id"]) for d in self.by_batch[b]))[:5]
            want.extend((qid, did, -s) for s, did in scored)

        def check(tbl):
            state["neighbors"] = tbl
            got = sorted(zip(tbl.column("q_id").to_pylist(), tbl.column("_id").to_pylist(),
                             tbl.column("score").to_pylist()))
            same_rows(got, sorted(want), "cosine_topk", ordered=True)
        return check

    def _check_count(self, tbl):
        want = sum(len(self.kept[b]) * n for b, n in self.written.items())
        got = tbl.column(0).to_pylist()
        expect(got == [want], f"read-back count {got} != {want}")

    def _check_batch(self, b):
        return lambda tbl: expect(
            sorted(tbl.column("_id").to_pylist()) == sorted(self.kept[b] * self.written[b]),
            "read-your-writes ids")

    def _check_search(self, r):
        def check(tbl):
            files = [os.path.join(self.out_path, f) for f in sorted(os.listdir(self.out_path))
                     if f.endswith(".jsonl")]
            terms = self.queries[r % len(self.queries)].split()
            want = duckdb.execute(BM25_SQL, [files, terms]).fetchall()
            got = list(zip(tbl.column("_id").to_pylist(), tbl.column("score").to_pylist()))
            expect(len(got) == min(SEARCH_K, len(want)), "search result size")
            for i, (gid, gs) in enumerate(got):
                expect(close(gs, want[i][1], rel=1e-9), f"search score at rank {i}")
            # ids must match except within runs of tied scores at the cut
            cut = want[len(got) - 1][1] if got else 0.0
            strict = {w for w, s in want if s > cut and not close(s, cut, rel=1e-9)}
            expect(strict <= {g for g, _ in got}, "search top-k ids")
        return check

    def round_ops(self, r):
        b = 1 + r % (self.n_batches - 1)
        n = len(self.by_batch[b])
        st: dict = {}
        bdf = lambda: self._bdf(st)  # noqa: E731
        rejected = sorted(self.batch_ids(b) - set(self.kept[b]))
        return [
            Op("read_batch", "read", self._check_batch_read(st, b), docs=n,
               build=lambda: self._read_batch(st, b)),
            Op("text_stats", "read", self._check_stats(st, b),
               docs=n, build=lambda: text.with_analysis(bdf(), "text")),
            Op("exact_dedup", "read",
               self._check_ids(self.exact_keep[b], "exact dedup ids", st, "exact"),
               docs=n, build=lambda: dedup.dedup_exact(bdf(), ["text"], "_id").select("_id")),
            Op("near_dup", "read", self._check_near(st, b), docs=n, build=lambda: self._near(st)),
            Op("span_dedup", "read", self._check_spans(st, b), docs=n,
               build=lambda: span_dedup.remove_duplicate_spans(
                   bdf(), span_dedup.duplicate_spans(bdf(), "_id", "text", k=20),
                   "_id", "text").select("_id", "n_tokens_removed")),
            Op("cosine_topk", "read", self._check_cosine(st, b), docs=n,
               build=lambda: self._cosine(st, b)),
            # every kernel's output is persisted, one collection each
            Op("append_kept", "write", self._check_append("curated", self.kept[b]), docs=n,
               act=lambda: self._append("curated", self._kept(st), b),
               in_bytes=sum(self.line_bytes[i] for i in self.kept[b])),
            Op("append_rejected", "write", self._check_append("rejected", rejected), docs=n,
               act=lambda: self._append("rejected", self._kept(st, rejected=True)),
               in_bytes=sum(self.line_bytes[i] for i in rejected)),
            Op("append_quality", "write",
               self._check_append("quality", sorted(self.batch_ids(b))), docs=n,
               act=lambda: self._append("quality", st["stats"].drop_columns(["text", "emb"]))),
            Op("append_pairs", "write", self._check_append("near_pairs"),
               act=lambda: self._append("near_pairs", st["pairs"])),
            Op("append_spans", "write",
               self._check_append("span_stats", sorted(self.batch_ids(b))),
               act=lambda: self._append("span_stats", st["spans"])),
            Op("append_neighbors", "write", self._check_append("neighbors"),
               act=lambda: self._append("neighbors", st["neighbors"])),
            Op("readback_count", "read", self._check_count, docs=n,
               build=lambda: self.cat.table("curated", db="db").count_rows().df()),
            Op("readback_batch", "read", self._check_batch(b),
               docs=n, build=lambda: self.cat.table("curated", db="db")
               .filter(C("batch") == b).select("_id").df()),
            Op("index_build", "index",
               lambda idx: expect("text" in idx, "sidecar built for text"), docs=n,
               act=lambda: build_text_stats_index(
                   self.spark, self.cat.backend, "db", "curated", paths=["text"])),
            Op("search_topk", "read", self._check_search(r), docs=n,
               build=lambda: dms.mongo_scan(self.spark, self.cat.backend, "db", "curated",
                                            pipeline=self._search_pipe(r)).df()),
        ]

    def stored_ratio(self):
        gen_bytes = sum(self.line_bytes[i] * n for b, n in self.written.items()
                        for i in self.kept[b])
        return dir_bytes(self.out_path)[1] / gen_bytes


WORKLOADS = {w.name: w for w in (DocFederation, ColumnarAnalytics, CurationRW)}
