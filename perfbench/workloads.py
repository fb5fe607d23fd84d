"""The two benchmark workloads: lake ingest and corpus curation.

Each workload makes its inputs from the seed (``prepare``, untimed),
sets itself up (``setup``, timed as ``setup_s``), optionally warms up
(``warmup``, untimed), runs ops one at a time in a closed loop
(``run_op``, timed per op; ``after_op`` runs untimed between ops),
then lists what it left in the lake (``finish``) and checks every
op's output (``check``). Calls into the package go through the
``Tracer`` so a traced run can attribute each op's time to the layers.
"""

from __future__ import annotations

import math
import os
from typing import Any, Dict, List, Optional, Tuple

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from spans import Op, Tracer

Failure = Tuple[Optional[int], str]  # (op index or None for the whole run, message)


def stage(table: pa.Table, directory: str, files: int = 1) -> str:
    """Write ``table`` as ``files`` parquet files under ``directory``."""
    os.makedirs(directory, exist_ok=True)
    step = max(1, math.ceil(table.num_rows / files))
    for k, lo in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(table.slice(lo, step), os.path.join(directory, f"part-{k:03d}.parquet"))
    return directory


def lake_files(path: str) -> str:
    """DuckDB glob over a Spark dataset directory (one partition level)."""
    return os.path.join(path, "**", "*.parquet")


class Workload:
    name = ""
    # the window runs whole cycles, so every run measures the same mix
    # of op kinds however many cycles fit in its seconds
    CYCLE = 1
    # the fewest ops a measured run times, whatever its seconds
    MIN_OPS = 1

    def __init__(self, wr: Any, tracer: Tracer, run_dir: str, seed: int, sf: float,
                 nproc: int) -> None:
        self.wr = wr
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.sf = sf
        self.nproc = nproc
        self.rng = np.random.default_rng([seed, 7])
        self.spark: Any = None
        # filled by finish(): what the writes left in the lake, and the
        # bytes_stored_per_input_byte ratio's two sides
        self.stored_bytes = 0
        self.stored_files = 0
        self.ratio_stored_bytes = 0
        self.ratio_input_bytes = 0
        self.partitions = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def read_staged(self, directory: str, schema: pa.Schema) -> Any:
        """Spark frame over staged files, with the schema given so no
        inference job runs."""
        from pyspark.sql.pandas.types import from_arrow_schema

        return self.spark.read.schema(from_arrow_schema(schema)).parquet(directory)

    def size_lake(self, path: str) -> int:
        """Count the data files the run's writes left under ``path``;
        returns their bytes."""
        sizes = self.tracer.call("s3.size_objects", self.wr.s3.size_objects, path,
                                 spark=self.spark)
        data = [v or 0 for k, v in sizes.items() if k.endswith(".parquet")]
        self.stored_files += len(data)
        self.stored_bytes += sum(data)
        return sum(data)

    # overridden per workload
    def prepare(self) -> None: ...
    def setup(self, rep: int) -> None: ...
    def warmup(self) -> None: ...
    def build_op(self, index: int) -> Tuple[str, Any]: ...
    def run_op(self, op: Op, built: Any) -> None: ...
    def after_op(self, op: Op) -> None: ...
    def finish(self) -> None: ...
    def check(self) -> List[Failure]: ...


# ------------------------------------------------------------ lake ingest

# the analyst's fresh-data query over the months that just landed; the
# partition filter prunes the scan to them
FRESHNESS_SQL = """
SELECT l_shipmonth, l_returnflag, count(*) AS n, sum(l_quantity) AS qty,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem WHERE l_shipmonth >= ':since;'
GROUP BY l_shipmonth, l_returnflag ORDER BY l_shipmonth, l_returnflag"""


def rows_equal(got: List[tuple], want: List[tuple], rel: float = 1e-9) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


class LakeIngest(Workload):
    """Month-by-month appends of lineitem into a partitioned, cataloged
    table that set-up creates with its first month, and the query an
    analyst runs on the fresh data. Each cycle of six ops holds four
    writes (appends, one of them at a seeded slot an overwrite_partitions
    restatement of an earlier month), then the fresh-data query through
    ``athena.read_sql_query``, then an upsert into a keyed orders table.
    After each write, untimed, ``catalog.get_partitions`` reads back
    what the catalog registered, for the checks."""

    name = "lake_ingest"
    CYCLE = 6
    MIN_OPS = 4 * CYCLE
    QUERY_SLOT = 4

    def prepare(self) -> None:
        lineitem, self.n_orders = gen.lineitem(self.seed, self.sf)
        self.batches = gen.ingest_batches(lineitem, self.seed)
        self.upsert_size = max(int(20_000 * self.sf), 20)
        # reset by each set-up: month -> rows the table must hold, and
        # month -> ops that wrote it (None for the set-up's own write)
        self.expected: Dict[str, pa.Table] = {}
        self.writers: Dict[str, List[Optional[int]]] = {}
        self.op_months: Dict[int, set] = {}
        self.orders_expected: Dict[int, dict] = {}
        self.upsert_ops: List[int] = []
        self.oracle = duckdb.connect()

    def _orders_input(self) -> Tuple[Any, pa.Table]:
        self.version += 1
        batch = gen.upsert_batch(self.rng, np.fromiter(self.orders_expected, np.int64),
                                 self.n_orders, self.upsert_size, self.version)
        for row in batch.to_pylist():
            self.orders_expected[row["o_orderkey"]] = row
        directory = stage(batch, self.path("landing", f"orders-{self.rep}-{self.version}"))
        return self.read_staged(directory, batch.schema), batch

    def _upsert(self, df: Any) -> None:
        self.tracer.call("s3.merge_upsert_table", self.wr.s3.merge_upsert_table, df,
                         self.orders_path, keys=["o_orderkey"], order_col="o_version",
                         spark=self.spark)

    def setup(self, rep: int) -> None:
        """A fresh database holding the lineitem table with its first
        month, and a keyed orders table with its first snapshot."""
        self.rep = rep
        self.db = f"lake_r{rep}"
        self.table_path = self.path("lake", f"r{rep}", "lineitem")
        self.orders_path = self.path("lake", f"r{rep}", "orders")
        self.next_month = 0
        self.expected, self.writers = {}, {}
        self.orders_expected = {}
        self.version = 0
        self.wr.catalog.create_database(self.db, spark=self.spark)
        df, _ = self._lineitem_input(f"setup-{rep}", self._append_batch(), None)
        self._write(df, "append")
        df, _ = self._orders_input()
        self._upsert(df)

    def _append_batch(self) -> pa.Table:
        batch = self.batches[self.next_month]
        self.next_month += 1
        for month in set(batch.column("l_shipmonth").to_pylist()):
            rows = batch.filter(pc.equal(batch.column("l_shipmonth"), month))
            old = self.expected.get(month)
            self.expected[month] = rows if old is None else pa.concat_tables([old, rows])
        return batch

    def _restate_batch(self) -> pa.Table:
        months = sorted(self.expected)
        month = months[int(self.rng.integers(0, len(months)))]
        self.expected[month] = gen.restate(self.expected[month], self.rng)
        return self.expected[month]

    def _lineitem_input(self, name: str, batch: pa.Table,
                        index: Optional[int]) -> Tuple[Any, pa.Table]:
        months = set(batch.column("l_shipmonth").to_pylist())
        if index is not None:
            self.op_months[index] = months
        for month in months:
            self.writers.setdefault(month, []).append(index)
        directory = stage(batch, self.path("landing", name))
        return self.read_staged(directory, batch.schema), batch

    def _write(self, df: Any, mode: str) -> None:
        self.tracer.call("s3.to_parquet", self.wr.s3.to_parquet, df, self.table_path,
                         dataset=True, partition_cols=["l_shipmonth"], mode=mode,
                         database=self.db, table="lineitem", spark=self.spark)

    def _registered(self) -> Dict[str, List[str]]:
        return self.tracer.call("catalog.get_partitions", self.wr.catalog.get_partitions,
                                self.db, "lineitem", spark=self.spark)

    def _query_input(self) -> Dict[str, Any]:
        """Params of a fresh-data query over the last few months, with
        the rows it must return computed from the rows written so far."""
        months = sorted(self.expected)
        since = months[max(0, len(months) - int(self.rng.integers(1, 7)))]
        self.oracle.register("lineitem", pa.concat_tables(list(self.expected.values())))
        want = self.oracle.execute(FRESHNESS_SQL.replace(":since;", since)).fetchall()
        self.oracle.unregister("lineitem")
        return {"since": since, "want": want}

    def build_op(self, index: int) -> Tuple[str, Any]:
        slot = index % self.CYCLE
        if slot == 0:
            self.restate_slot = int(self.rng.integers(1, self.QUERY_SLOT))
        if slot == self.CYCLE - 1:
            self.upsert_ops.append(index)
            return "upsert", self._orders_input()
        if slot == self.QUERY_SLOT:
            return "query", self._query_input()
        if self.next_month < gen.N_MONTHS and slot != self.restate_slot:
            return "append", self._lineitem_input(f"batch-{index}", self._append_batch(), index)
        return "restate", self._lineitem_input(f"batch-{index}", self._restate_batch(), index)

    def run_op(self, op: Op, built: Any) -> None:
        if op.kind == "query":
            op.params = built
            df = self.tracer.call("athena.read_sql_query", self.wr.athena.read_sql_query,
                                  FRESHNESS_SQL, database=self.db,
                                  params={"since": built["since"]}, spark=self.spark)
            op.result = [tuple(r) for r in self.tracer.exec("athena.read_sql_query", df.collect)]
            return
        df, batch = built
        op.rows = batch.num_rows
        if op.kind == "upsert":
            self._upsert(df)
        else:
            self._write(df, "append" if op.kind == "append" else "overwrite_partitions")

    def after_op(self, op: Op) -> None:
        """Read back the partitions a write left in the catalog."""
        if op.failed or op.kind not in ("append", "restate"):
            return
        try:
            op.result = self._registered()
        except Exception as exc:  # a failed read-back fails the write it checks
            op.failed = True
            op.error = f"catalog.get_partitions after the write: {type(exc).__name__}: {exc}"[:500]

    def finish(self) -> None:
        self.ratio_stored_bytes = self.size_lake(self.table_path)
        self.size_lake(self.orders_path)
        self.ratio_input_bytes = sum(t.nbytes for t in self.expected.values())
        self.registered = self._registered()
        self.partitions = len(self.registered)

    def check(self) -> List[Failure]:
        failures: List[Failure] = []
        for op in self.tracer.ops:
            if op.failed or op.kind == "upsert":
                continue
            if op.kind == "query":
                if not rows_equal(op.result, op.params["want"]):
                    failures.append((op.index, f"fresh-data query since {op.params['since']} "
                                               f"differs from the rows written"))
                continue
            missing = self.op_months[op.index] - {v[0] for v in op.result.values()}
            if missing:
                failures.append((op.index, f"catalog lacks {sorted(missing)} after the write"))
        dirs = {d.rstrip("/").rsplit("=", 1)[-1]
                for d in self.wr.s3.list_directories(self.table_path, spark=self.spark)}
        registered = {v[0] for v in self.registered.values()}
        for month in sorted((dirs ^ registered) | (dirs ^ set(self.expected))):
            failures.extend((i, f"partition {month}: directories, catalog and rows written "
                                f"disagree") for i in self.writers.get(month, [None]))
        con = duckdb.connect()
        expected = pa.concat_tables(list(self.expected.values()))  # duckdb scans it by name
        cols = ", ".join(expected.column_names)
        got = (f"SELECT {cols} FROM read_parquet('{lake_files(self.table_path)}', "
               f"hive_partitioning = true, hive_types = {{'l_shipmonth': VARCHAR}})")
        diff = con.execute(
            f"SELECT l_shipmonth, count(*) FROM ((SELECT {cols} FROM expected EXCEPT ALL {got}) "
            f"UNION ALL ({got} EXCEPT ALL SELECT {cols} FROM expected)) GROUP BY 1 ORDER BY 1"
        ).fetchall()
        for month, n in diff:
            failures.extend((i, f"partition {month}: {n} rows differ from the rows written "
                                f"net of restatements") for i in self.writers.get(month, [None]))
        latest = max(self.wr.s3.list_directories(self.orders_path, spark=self.spark),
                     key=lambda d: int(d.rstrip("/").rsplit("=", 1)[-1]))
        want = pa.Table.from_pylist(list(self.orders_expected.values()))  # scanned by name
        cols = ", ".join(want.column_names)
        got = f"SELECT {cols} FROM read_parquet('{latest.split(':', 1)[-1]}*.parquet')"
        n_diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {cols} FROM want EXCEPT ALL {got}) "
            f"UNION ALL ({got} EXCEPT ALL SELECT {cols} FROM want))"
        ).fetchone()[0]
        con.close()
        if n_diff:
            failures.extend((i, f"upsert snapshot differs from the per-key argmax of the "
                                f"generated batches in {n_diff} rows") for i in self.upsert_ops)
        return failures


# --------------------------------------------------------- corpus curation


class CorpusCuration(Workload):
    """The staged curation job on one shard per op: quality and
    language filter, exact dedup, MinHash-LSH near-dedup, IVF index
    build and top-k search over the shard's embeddings, and the write
    of the curated shard. An untimed warm-up pipeline on a shard of its
    own pays the session's first-use costs (Python workers, code
    generation), so the timed ops are warm pipelines."""

    name = "corpus_curation"
    MIN_OPS = 3
    WARMUP_SHARD = 10_000  # a shard index no op uses
    K = 5
    NPROBE = 4
    QUERIES = 10

    def prepare(self) -> None:
        self.n_docs = max(int(10_000 * self.sf), 60)
        self.n_vecs = max(int(4_000 * self.sf), 40)
        self.shards: Dict[int, Dict[str, Any]] = {}
        self.warm: Optional[Tuple[Dict[str, Any], Dict[str, Any]]] = None  # (shard, result)
        self.centroids_table = gen.curation_centroids(self.seed)
        self.staged_centroids = stage(self.centroids_table, self.path("landing", "centroids"))

    def setup(self, rep: int) -> None:
        """Publish the trained quantizer (the IVF centroids) to the lake."""
        self.centroids_path = self.path("lake", f"r{rep}", "centroids")
        df = self.read_staged(self.staged_centroids, self.centroids_table.schema)
        self.tracer.call("s3.to_parquet", self.wr.s3.to_parquet, df, self.centroids_path,
                         dataset=True, mode="overwrite", spark=self.spark)

    def _stage_shard(self, index: int) -> Tuple[Dict[str, Any], str, str]:
        shard = gen.curation_shard(self.seed, index, self.n_docs, self.n_vecs,
                                   self.centroids_table)
        docs_dir = stage(shard["docs"], self.path("landing", f"docs-{index}"), self.nproc)
        emb_dir = stage(shard["embeddings"], self.path("landing", f"emb-{index}"), self.nproc)
        return shard, docs_dir, emb_dir

    def warmup(self) -> None:
        shard, docs_dir, emb_dir = self._stage_shard(self.WARMUP_SHARD)
        self.warm = (shard, self._pipeline(self.WARMUP_SHARD, shard, docs_dir, emb_dir))

    def build_op(self, index: int) -> Tuple[str, Any]:
        shard, docs_dir, emb_dir = self._stage_shard(index)
        self.shards[index] = shard
        self.ratio_input_bytes += shard["docs"].nbytes + shard["embeddings"].nbytes
        return "pipeline", (docs_dir, emb_dir)

    def run_op(self, op: Op, built: Any) -> None:
        shard = self.shards[op.index]
        op.rows = shard["docs"].num_rows
        op.result = self._pipeline(op.index, shard, *built)

    def _pipeline(self, index: int, shard: Dict[str, Any], docs_dir: str,
                  emb_dir: str) -> Dict[str, Any]:
        from pyspark.sql import functions as F

        from aws_data_wrangler_spark.operators import dedup, similarity, text

        call, exec_ = self.tracer.call, self.tracer.exec
        read = self.wr.s3.read_parquet
        docs = call("s3.read_parquet", read, docs_dir, spark=self.spark)
        emb = call("s3.read_parquet", read, emb_dir, spark=self.spark)
        cents = call("s3.read_parquet", read, self.centroids_path, dataset=True, spark=self.spark)

        def quality_filter(frame: Any) -> Any:
            scored = text.with_quality_score(text.with_lang_id(frame))
            return scored.filter((F.col("quality_score") >= 0.5)
                                 & (F.col("lang_pred") == F.col("lang")))

        kept = call("text.quality_filter", quality_filter, docs).select(
            "doc_id", "text", "lang", "source", "quality_score").persist()
        try:
            n_kept = exec_("text.quality_filter", kept.count)
            groups = call("dedup.exact_duplicates", dedup.exact_duplicates, kept)
            dup_groups = exec_("dedup.exact_duplicates",
                               groups.filter(F.col("dup_cnt") > 1).collect)
            pairs_df = call("dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs, kept,
                            threshold=0.8)
            pairs = exec_("dedup.minhash_lsh_pairs", pairs_df.collect)
            index_path = self.path("lake", "index", f"shard-{index}")
            call("similarity.build_partitioned_ivf", similarity.build_partitioned_ivf, emb,
                 cents, index_path, metric="cosine", spark=self.spark)
            queries = emb.filter(F.col("vec_id") < int(shard["vec_ids"][0]) + self.QUERIES)
            topk_df = call("similarity.ivf_partitioned_topk", similarity.ivf_partitioned_topk,
                           self.spark, index_path, queries, cents, k=self.K,
                           nprobe=self.NPROBE, metric="cosine")
            topk = exec_("similarity.ivf_partitioned_topk", topk_df.collect)
            dup_hashes = [r["content_hash"] for r in dup_groups]
            keepers = [r["keep_id"] for r in dup_groups]
            near = sorted({r["id_b"] for r in pairs})
            curated = kept.filter(
                (~F.md5(F.col("text")).isin(dup_hashes) | F.col("doc_id").isin(keepers))
                & ~F.col("doc_id").isin(near))
            shard_path = self.path("lake", "curated", f"shard-{index}")
            call("s3.to_parquet", self.wr.s3.to_parquet, curated, shard_path, dataset=True,
                 partition_cols=["lang"], mode="overwrite", spark=self.spark)
        finally:
            kept.unpersist()
        return {
            "n_kept": n_kept,
            "dup_groups": [(r["keep_id"], r["dup_cnt"]) for r in dup_groups],
            "pairs": {(r["id_a"], r["id_b"]) for r in pairs},
            "topk": [(r["query_id"], r["neighbor_id"], r["rank"], r["cosine"]) for r in topk],
            "index": index_path,
            "shard": shard_path,
        }

    def finish(self) -> None:
        for op in self.tracer.ops:
            if op.result is not None:
                self.ratio_stored_bytes += self.size_lake(op.result["shard"])
                self.ratio_stored_bytes += self.size_lake(op.result["index"])
        self.size_lake(self.centroids_path)

    def check(self) -> List[Failure]:
        failures: List[Failure] = []
        con = duckdb.connect()
        if self.warm is not None:
            failures.extend((None, f"warm-up pipeline: {p}")
                            for p in self._check_shard(con, *self.warm))
        for op in self.tracer.ops:
            if not op.failed:
                failures.extend((op.index, p)
                                for p in self._check_shard(con, self.shards[op.index], op.result))
        con.close()
        return failures

    def _check_shard(self, con: Any, shard: Dict[str, Any], res: Dict[str, Any]) -> List[str]:
        """What is wrong with one pipeline's output, as messages."""
        problems = []
        if res["n_kept"] != len(shard["expected_kept"]):
            problems.append(f"quality filter kept {res['n_kept']} docs, expected "
                            f"{len(shard['expected_kept'])}")
        if sorted(res["dup_groups"]) != sorted((a, 2) for a, _ in shard["exact_pairs"]):
            problems.append("exact_duplicates groups differ from the planted exact copies")
        missed = set(shard["exact_pairs"] + shard["near_pairs"]) - res["pairs"]
        if missed:
            problems.append(f"minhash_lsh_pairs missed {len(missed)} planted duplicates")
        ids = {r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{lake_files(res['shard'])}')").fetchall()}
        if ids != shard["expected_curated"]:
            problems.append(f"curated shard holds {len(ids)} docs, expected "
                            f"{len(shard['expected_curated'])} (symmetric difference "
                            f"{len(ids ^ shard['expected_curated'])})")
        bad = topk_mismatches(res["topk"], shard, self.centroids_table, self.K,
                              self.NPROBE, self.QUERIES)
        if bad:
            problems.append(f"ivf_partitioned_topk differs from brute-force cosine for "
                            f"{bad} queries")
        return problems


def topk_mismatches(topk: List[tuple], shard: Dict[str, Any], centroids: pa.Table, k: int,
                    nprobe: int, n_queries: int, tol: float = 2e-6) -> int:
    """Queries whose returned top-k disagrees with brute-force cosine
    over the probed cells (ties within ``tol`` may come in any order)."""
    vecs = shard["vectors"].astype(np.float64)
    ids = shard["vec_ids"]
    cents = np.array(centroids.column("cvec").to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cunit = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    cell = np.argmax(unit @ cunit.T, axis=1)
    got: Dict[int, List[Tuple[int, float]]] = {}
    for qid, nid, rank, cos in topk:
        got.setdefault(qid, []).append((rank, nid, cos))
    bad = 0
    for q in range(n_queries):
        probed = np.argsort(-(unit[q] @ cunit.T), kind="stable")[:nprobe]
        cand = np.flatnonzero(np.isin(cell, probed) & (ids != ids[q]))
        cos = unit[cand] @ unit[q]
        want = np.sort(cos)[::-1][:k]
        rows = [(nid, c) for _, nid, c in sorted(got.get(int(ids[q]), []))]
        exact = dict(zip(ids[cand].tolist(), cos.tolist()))
        if (len(rows) != len(want)
                or any(abs(c - w) > tol for (_, c), w in zip(rows, want))
                or any(nid not in exact or abs(exact[nid] - c) > tol for nid, c in rows)):
            bad += 1
    return bad


WORKLOADS = {w.name: w for w in (LakeIngest, CorpusCuration)}
