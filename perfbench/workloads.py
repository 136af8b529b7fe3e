"""The workloads. Each builds its inputs from the seed, builds its
fixture, warms up with WARM_ROUNDS untimed rounds, and then runs rounds
until the harness's deadline. Expected results come from the seeded inputs
(numpy/pyarrow, or DuckDB for the corpus oracles), never from the engine.
"""

from __future__ import annotations

import math
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from perfbench import data
from perfbench.harness import Runner


class Workload:
    name = ""
    #: Untimed rounds before timing. The JVM keeps compiling for tens of
    #: seconds; latencies fall by a third over the first rounds, and
    #: stopping the warm-up early is the largest source of run-to-run spread.
    WARM_ROUNDS = 1
    #: Timed rounds run even past the deadline, so that a slow host still
    #: yields whole rounds to take medians over.
    MIN_ROUNDS = 2
    #: Rounds the pre-built inputs suffice for (None: unlimited).
    MAX_ROUNDS: int | None = None

    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.table_dir: str | None = None
        self.next_round = 0

    def setup(self, warm: Runner) -> None:
        """Build inputs and fixture, then run WARM_ROUNDS untimed rounds."""
        self.build()
        for _ in range(self.WARM_ROUNDS):
            self.round(warm)

    def build(self) -> None:
        raise NotImplementedError

    def round(self, run: Runner) -> None:
        raise NotImplementedError

    def exhausted(self) -> bool:
        """True once the pre-built inputs are used up."""
        return self.MAX_ROUNDS is not None and self.next_round >= self.MAX_ROUNDS


def _sums(df, *cols: str):
    row = df.agg(F.count(F.lit(1)), *[F.sum(c) for c in cols]).collect()[0]
    return (row[0],) + tuple(v or 0 for v in row[1:])


def _same(got: tuple, want: tuple) -> bool:
    """Equal, except floats, whose sums depend on summation order."""
    return len(got) == len(want) and all(
        math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6) if isinstance(g, float) else g == w
        for g, w in zip(got, want)
    )


# ---------------------------------------------------------------------------
class Write(Workload):
    """Copy-on-write mutations and micro-batch appends on one table.

    A round is a MERGE upsert, a DELETE and an UPDATE, each on a key window
    inside one base file, followed by blind appends of pre-built 4,000-row
    Arrow slices through ``write_deltalake``; ``compacts`` rounds then
    compact the files appended since the last compaction. A round's three
    windows lie in three different base files, cycled in a seeded order,
    and appended keys lie above the base keys, so every mutation rewrites
    one file whatever the seed.
    ``delta.checkpointInterval=5`` puts three checkpoints in every round."""

    name = "write"
    N_ORDERS = 16_000  # ~64k base rows
    N_FILES = 16
    MERGE_ORDERS = 160  # matched rows ~1% of the base table
    NEW_ORDERS = 80  # inserted rows ~0.5%
    DELETE_ORDERS = 72  # ~0.45%
    UPDATE_ORDERS = 36  # ~0.22%
    SLICE_ROWS = 4_000
    # appends are four fifths of the operations, so the median operation
    # lies well inside the appends, not on their border with the dearer
    # DELETEs, UPDATEs and checkpointing appends, however few rounds fit
    APPENDS_PER_ROUND = 12
    # the append path is warm after a few appends (its CPU time, JIT
    # excluded, stops falling within the first warm round); MERGE, DELETE,
    # UPDATE and OPTIMIZE are what need the warm rounds
    WARM_APPENDS_PER_ROUND = 6
    CONFIG = {"delta.checkpointInterval": "5"}
    WARM_ROUNDS = 2
    MAX_ROUNDS = WARM_ROUNDS + 4  # a timed round takes 5 s or more

    def build(self) -> None:
        rng = self.rng
        t = data.lineitem(rng, data.order_keys(self.N_ORDERS))
        self.table_dir = os.path.join(self.workdir, "write")
        write_deltalake(
            self.table_dir,
            t,
            spark=self.spark,
            max_records_per_file=math.ceil(t.num_rows / self.N_FILES),
            configuration=self.CONFIG,
        )
        adds = DeltaTable(self.table_dir, spark=self.spark).get_add_actions(flatten=True)
        lo = adds.column("min.l_orderkey").to_pylist()
        hi = adds.column("max.l_orderkey").to_pylist()
        ranges = [
            (a, b)
            for a, b in sorted((int(a), int(b)) for a, b in zip(lo, hi))
            if (b - a) // data.KEY_STRIDE >= 2 * self.MERGE_ORDERS
        ]
        # compaction picks files below half a base file: the appended ones
        self.compact_target = int(statistics.median(adds.column("size_bytes").to_pylist())) // 2
        self.key = data.row_keys(t)
        self.q = t.column("l_quantity").to_numpy().copy()
        self.d = t.column("l_discount").to_numpy().copy()

        files = rng.permutation(len(ranges))
        cycle = len(ranges) // 3 * 3
        first_key = self.N_ORDERS + 1
        self.plans = []
        for r in range(self.MAX_ROUNDS):
            f_merge, f_del, f_upd = (ranges[files[(3 * r + i) % cycle]] for i in range(3))
            a, b = self._window(f_merge, self.MERGE_ORDERS)
            matched = t.filter(pc.and_(pc.greater_equal(t["l_orderkey"], a), pc.less(t["l_orderkey"], b)))
            m = matched.num_rows
            matched = matched.set_column(
                matched.schema.get_field_index("l_quantity"),
                "l_quantity",
                pa.array(rng.integers(1, 51, m).astype(np.float64)),
            ).set_column(
                matched.schema.get_field_index("l_discount"),
                "l_discount",
                pa.array(rng.integers(0, 11, m) / 100.0),
            )
            # keys off the stride grid: new orders inside the window
            slots = rng.choice((b - a) // data.KEY_STRIDE, self.NEW_ORDERS, replace=False)
            new_keys = a + np.sort(slots) * data.KEY_STRIDE + 1 + r % (data.KEY_STRIDE - 1)
            source = pa.concat_tables([matched, data.lineitem(rng, new_keys)])
            slices = []
            n = self.WARM_APPENDS_PER_ROUND if r < self.WARM_ROUNDS else self.APPENDS_PER_ROUND
            for _ in range(n):
                # ~4.8k rows from 1,200 orders, cut to exactly SLICE_ROWS
                orders = data.order_keys(1_200, first=first_key)
                first_key += 1_200
                slices.append(data.lineitem(rng, orders).slice(0, self.SLICE_ROWS))
            self.plans.append(
                {
                    "source": source,
                    "source_df": self.spark.createDataFrame(source),
                    "delete": self._window(f_del, self.DELETE_ORDERS),
                    "update": self._window(f_upd, self.UPDATE_ORDERS),
                    "slices": slices,
                }
            )

    def compacts(self, r: int) -> bool:
        """Whether round ``r`` ends with a compaction: the last warm round,
        so that OPTIMIZE is warmed up, and the second timed round, which
        every run reaches (MIN_ROUNDS). Both compact two rounds' appends,
        and one per run keeps the mix of operations the same however many
        rounds fit."""
        return r in (self.WARM_ROUNDS - 1, self.WARM_ROUNDS + 1)

    def _window(self, file_range: tuple[int, int], orders: int) -> tuple[int, int]:
        lo, hi = file_range
        span = (hi - lo) // data.KEY_STRIDE + 1
        off = int(self.rng.integers(0, max(1, span - orders)))
        a = lo + off * data.KEY_STRIDE
        return a, a + orders * data.KEY_STRIDE

    def round(self, run: Runner) -> None:
        r = self.next_round
        plan = self.plans[r]
        self.next_round += 1
        path, spark = self.table_dir, self.spark
        n_ops = len(run.ops)

        def merge():
            return (
                DeltaTable(path, spark=spark)
                .merge(
                    plan["source_df"],
                    "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber",
                    source_alias="s",
                    target_alias="t",
                )
                .when_matched_update_all()
                .when_not_matched_insert_all()
                .execute()
            )

        run.op("merge", merge, user_bytes=plan["source"].nbytes)
        self._merge_model(plan["source"])

        a, b = plan["delete"]
        run.op("delete", lambda: DeltaTable(path, spark=spark).delete(
            f"l_orderkey >= {a} AND l_orderkey < {b}"))
        keep = ~((self.key // 16 >= a) & (self.key // 16 < b))
        self.key, self.q, self.d = self.key[keep], self.q[keep], self.d[keep]

        a, b = plan["update"]
        run.op("update", lambda: DeltaTable(path, spark=spark).update(
            {"l_quantity": "l_quantity + 1"}, predicate=f"l_orderkey >= {a} AND l_orderkey < {b}"))
        hit = (self.key // 16 >= a) & (self.key // 16 < b)
        self.q[hit] += 1

        for t in plan["slices"]:
            run.op("append", lambda t=t: write_deltalake(path, t, spark=spark, mode="append"),
                   user_bytes=t.nbytes)
            self.key = np.concatenate([self.key, data.row_keys(t)])
            self.q = np.concatenate([self.q, t.column("l_quantity").to_numpy()])
            self.d = np.concatenate([self.d, t.column("l_discount").to_numpy()])

        compact = self.compacts(r)
        got = self._content(run, with_hash=compact)
        want = (len(self.key), float(self.q.sum()), float(self.d.sum()))
        if not _same(got[:3], want):
            run.fail(run.ops[n_ops:], f"write round {r}: got {got[:3]}, want {want}")
        if compact:
            run.op("optimize", lambda: DeltaTable(path, spark=spark).optimize.compact(
                target_size=self.compact_target))
            after = self._content(run, with_hash=True)
            if not _same(after, got):
                run.fail(run.ops[-1:], f"compaction changed the content: {got} -> {after}")

    def _content(self, run: Runner, with_hash: bool) -> tuple:
        """Row count and sums; with_hash adds a sum of per-row hashes over
        every column, which any changed, lost or duplicated row moves."""
        def read():
            df = DeltaTable(self.table_dir, spark=self.spark).to_df()
            cols = ["l_quantity", "l_discount"]
            if with_hash:
                df = df.withColumn("_h", F.xxhash64(*df.columns).cast("decimal(38,0)"))
                cols.append("_h")
            return _sums(df, *cols)

        return run.check(read)

    def _merge_model(self, src: pa.Table) -> None:
        sk = data.row_keys(src)
        sq = src.column("l_quantity").to_numpy()
        sd = src.column("l_discount").to_numpy()
        order = np.argsort(self.key)
        pos = np.minimum(np.searchsorted(self.key[order], sk), len(order) - 1)
        hit = self.key[order][pos] == sk
        tgt = order[pos[hit]]
        self.q[tgt], self.d[tgt] = sq[hit], sd[hit]
        self.key = np.concatenate([self.key, sk[~hit]])
        self.q = np.concatenate([self.q, sq[~hit]])
        self.d = np.concatenate([self.d, sd[~hit]])


# ---------------------------------------------------------------------------
def _canon_value(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, float) or type(v).__name__ == "Decimal":
        f = float(v)
        if math.isfinite(f) and f.is_integer() and abs(f) < 2**53:
            return int(f)
        return f"{f:.9g}"
    if isinstance(v, (int, str)):
        return v
    return str(v)


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples ordered by column name, floats to 9 significant
    digits, sorted: equal for equal results whatever the row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


class Corpus(Workload):
    """Four declared LLM-pipeline queries over a seeded 500-document corpus;
    one round is one pass over the four."""

    name = "corpus"
    #: `__spark_entry__.queries()` entries, one per functions/ module
    #: family: dedup, retrieval, text, sketches.
    QUERIES = (
        "llm_minhash_lsh_candidates",
        "llm_bm25_topk",
        "llm_hashed_classifier",
        "llm_source_overlap_kmv",
    )
    N_DOCS = 500
    # the first pass runs 3-4x slower than later ones; the second still
    # takes a quarter more CPU time (JIT excluded) than the third and later
    WARM_ROUNDS = 2
    # the CPU time of one query differed by up to 30% between two timed
    # passes of a run; a third pass gives the medians 12 ops, not 8
    MIN_ROUNDS = 3

    def build(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        from delta_rs_spark.session import drop_cached_intermediates

        self.drop = drop_cached_intermediates
        self.sf_dir = os.path.join(self.workdir, "corpus")
        os.makedirs(self.sf_dir)
        docs_path = os.path.join(self.sf_dir, "documents.parquet")
        pq.write_table(data.documents(self.rng, self.N_DOCS), docs_path)
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {q: registry[q] for q in self.QUERIES}
        self.want: dict[str, list[tuple]] = {}  # first-pass results
        self.oracle: dict[str, list[tuple]] = {}
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
            for q in self.QUERIES:
                if q in oracles:
                    cur = con.execute(oracles[q])
                    self.oracle[q] = canon_rows([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()

    def round(self, run: Runner) -> None:
        for q, fn in self.queries.items():
            self.drop(self.spark)
            rows = run.op(f"functions.{q}", lambda: fn(self.spark, self.sf_dir).collect())
            got = canon_rows(list(rows[0].__fields__) if rows else [], rows)
            if q not in self.want:
                self.want[q] = got
                if q in self.oracle and got != self.oracle[q]:
                    run.fail(run.ops[-1:], f"{q}: engine and DuckDB oracle disagree")
            elif got != self.want[q]:
                run.fail(run.ops[-1:], f"{q}: result differs from the first pass")


WORKLOADS = {w.name: w for w in (Write, Corpus)}
