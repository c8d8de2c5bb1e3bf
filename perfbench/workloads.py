"""The benchmark's workloads.  Each is a closed loop with one client: an op
is sent only after the previous one returned, and every op's output is
checked (outside its timed interval) before the next is sent."""

from __future__ import annotations

import hashlib
import importlib
import os
import time
from collections import Counter

import numpy as np

import gen
import probes
from kvmodel import FIELDS, KvModel, as_tuples, check_rows
from spans import Tracer
from summary import logical_row_bytes


class Run:
    """One workload run: the session, the op log and the tracer.

    ``ops`` holds one record per measured op; ``attempted``/``failed``
    also count the untimed cold/warm-up ops, whose outputs are checked
    just the same."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._next = 0
        self._gid = ""
        self.extra: dict = {}  # workload-specific figures for the report

    def group(self, suffix: str) -> None:
        """Tag the Spark jobs that follow with this op's job group."""
        self.sc.setJobGroup(f"{self._gid}{suffix}", "perfbench")

    def action(self, df, count: bool = False):
        """The op's own Spark action, under the op's ``-a`` job group."""
        self.group("-a")
        self._df = df
        with self.tracer.span("spark.action"):
            return df.count() if count else df.collect()

    def op(self, kind: str, fn, check, measured=True, write=False, pre=None, post=None):
        """Run one op: ``pre()`` untimed, ``fn()`` timed, then
        ``check(out)`` untimed -> None or an error string."""
        i = self._next
        self._next += 1
        self._gid = f"perfbench-op-{i}"
        state = pre() if pre else None
        tr = self.tracer
        tr.op = i
        tr.active = tr.installed and measured
        self.group("")
        self._df = None
        err, out = None, None
        t0 = time.perf_counter()
        try:
            with tr.span(f"bench.{kind}"):
                out = fn()
        except Exception as e:  # a failing op is counted, not fatal
            err = f"{type(e).__name__}: {str(e)[:300]}"
        latency = time.perf_counter() - t0
        tr.active = False
        self.sc.setJobGroup(f"perfbench-check-{i}", "perfbench")
        if err is None:
            try:
                err = check(out)
            except Exception as e:
                err = f"check {type(e).__name__}: {str(e)[:300]}"
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.append(f"op {i} {kind}: {err}")
        rec = {"kind": kind, "latency": latency, "write": write}
        if post is not None and err is None:
            rec.update(post(state, out))
        if measured and tr.installed:
            c = probes.group_counters(self.sc, self._gid)
            ca = probes.group_counters(self.sc, self._gid + "-a")
            rec["counters"] = {k: c[k] + ca[k] for k in c}
            rec["construct_jobs"] = c["jobs"]
            if self._df is not None:
                rec["phases"] = probes.planning_phases(self._df)
        if measured:
            self.ops.append(rec)
        return out

    def loop(self, cycle_fn, min_cycles: int) -> None:
        """Run cycles until ``seconds`` have passed and at least
        ``min_cycles`` ran.  The traced run runs exactly ``min_cycles``,
        so its structural counters repeat exactly for a seed."""
        fixed = self.tracer.installed
        me = os.getpid()
        pids = [me] + probes.descendants(me)
        cpu0 = probes.cpu_seconds(pids)
        t0 = time.perf_counter()
        c = 0
        while c < min_cycles or (
            not fixed and time.perf_counter() - t0 < self.seconds
        ):
            cycle_fn()
            c += 1
        wall = time.perf_counter() - t0
        self.extra["cycles"] = c
        self.extra["cpu_util"] = (
            (probes.cpu_seconds(pids) - cpu0) / (wall * len(os.sched_getaffinity(0))) * 100.0
        )


def rows_hash(rows, cols) -> str:
    """Order-insensitive hash of a result, over the repo's own row
    normalization (tests/compare.py)."""
    from tests.compare import normalize_rows

    norm = normalize_rows([tuple(r) for r in rows], list(cols))
    return hashlib.sha256(repr(norm).encode()).hexdigest()


class _Collected:
    """Hands already-collected rows to ``tests.compare.compare`` as the
    Spark side, so the oracle check costs no second Spark execution."""

    def __init__(self, rows, cols):
        self.rows, self.cols = rows, cols

    def toPandas(self):
        import pandas as pd

        return pd.DataFrame.from_records(
            [tuple(r) for r in self.rows], columns=self.cols
        )


# ---------------------------------------------------------------------------
# olap_headline: the nine headline queries of bench.py.


def olap_setup(spark_factory, work: str, seed: int, timer):
    """Generate the corpus, import the headline op modules, start the
    session.  Returns (spark, corpus_dir)."""
    from bench import HEADLINE_MODULES

    corpus = os.path.join(work, "corpus")
    gen.write_tables(gen.corpus_tables(seed), corpus)
    for m in HEADLINE_MODULES:
        importlib.import_module(m)
    timer("inputs")
    return spark_factory(), corpus


def olap_headline(run: Run, corpus: str, timer) -> None:
    import duckdb

    from bench import HEADLINE
    from biggie_spark.io import TABLES
    from biggie_spark.registry import ORACLES, QUERIES
    from tests.compare import compare

    spark, tr = run.spark, run.tracer
    if tr.installed:
        for op in HEADLINE.values():
            QUERIES[op] = tr.wrap(QUERIES[op], "registry.construct")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")

    def make(op):
        def fn():
            df = QUERIES[op](spark, corpus)
            return df, run.action(df)

        return fn

    names = list(HEADLINE)
    rng = np.random.default_rng([run.seed, 5])
    cold: dict[str, str] = {}

    def oracle_check(name):
        def check(out):
            df, rows = out
            cold[name] = rows_hash(rows, df.columns)
            try:
                compare(_Collected(rows, df.columns), con, ORACLES[HEADLINE[name]])
            except AssertionError as e:
                return f"oracle mismatch: {str(e)[:300]}"
            return None

        return check

    def same_as_cold(name):
        def check(out):
            df, rows = out
            if rows_hash(rows, df.columns) != cold.get(name):
                return "result differs from the cold pass"
            return None

        return check

    # untimed cold pass, in a seeded order, checked against the oracle
    for i in rng.permutation(len(names)):
        n = names[i]
        run.op(n, make(HEADLINE[n]), oracle_check(n), measured=False)
    con.close()
    timer("warmup")

    def one_pass():
        for i in rng.permutation(len(names)):
            n = names[i]
            run.op(n, make(HEADLINE[n]), same_as_cold(n))

    run.extra["per_pass"] = {n: 1 for n in names}
    run.loop(one_pass, 3)


# ---------------------------------------------------------------------------
# kv_mixed: the kv_point read mix and the kv_churn write mix over one BTable
# and one Stash holding the same entities.

KV_ENTITIES = 10_000
KV_FILE_ROWS = 2_500  # 4 clustered data files at creation
KV_SCHEMA = "k long, uid string, a long, b double, c string"
# One cycle folds the op mixes of two workloads into one run:
# - kv_point, 92 % reads: each Stash and BTable read kind twice, and one
#   merge upserting 16 Zipf-scattered keys;
# - kv_churn, 73 % writes: 3 appends of 256 rows, 2 merge-on-read and 1
#   copy-on-write delete, a Stash rewrite and the optimize, and as reads
#   2 read-your-writes point reads and a time-travel count.
KV_READS = {
    "stash_get": 2, "stash_mget": 2, "stash_get_fields": 2,
    "stash_scan_range": 2, "bt_point": 2, "bt_bloom_in": 2,
    "bt_ryw": 2, "bt_time_travel": 1,
}
# The writes of a cycle, in order: 8 table commits, the last the optimize
# (every 8 commits).  A merge-on-read delete leaves deletion vectors that
# slow every later read and rewrite until a merge, copy-on-write delete or
# optimize rewrites those files; a fixed write order gives each write kind
# the same table state in every cycle and for every seed.  The merge comes
# before the deletes: through deletion vectors it took up to 8.5 s, more
# than the run budget holds twice.
KV_WRITE_ORDER = [
    "append", "merge", "append", "delete_mor", "delete_cow", "append",
    "delete_mor", "stash_persist", "optimize",
]
KV_WRITES = set(KV_WRITE_ORDER)
KV_MIX = {**KV_READS, **Counter(KV_WRITE_ORDER)}


def kv_setup(spark_factory, work: str, seed: int, timer):
    import pyarrow.parquet as pq

    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs, exist_ok=True)
    tb = gen.entities_table(seed, KV_ENTITIES)
    pq.write_table(tb, os.path.join(inputs, "entities.parquet"))
    rows = list(zip(*[tb.column(f).to_pylist() for f in FIELDS]))
    timer("inputs")
    return spark_factory(), (inputs, rows)


class KvMixed:
    def __init__(self, run: Run, inputs: str, rows: list[tuple]):
        from biggie_spark.stash import Stash
        from biggie_spark.tablefmt import BTable

        self.run, self.spark = run, run.spark
        self.bt_path = os.path.join(run.work, "btable")
        self.stash_path = os.path.join(run.work, "stash")
        ent = self.spark.read.parquet(os.path.join(inputs, "entities.parquet"))
        self.bt = BTable.create(
            self.spark, self.bt_path, ent, cluster_by=["k"],
            cluster_file_rows=KV_FILE_ROWS, bloom_cols=["uid"],
            bloom_bits=KV_FILE_ROWS * 10,
        )
        self.stash = Stash(self.spark, ent, "k").persist_to(self.stash_path, n_buckets=16)
        self.model = KvModel(rows)
        self.rng = np.random.default_rng([run.seed, 3])
        self.zipf = gen.ZipfKeys(np.random.default_rng([run.seed, 4]), KV_ENTITIES)
        self.next_key = KV_ENTITIES
        self.tag = 0
        self.last_key = int(self.zipf.draw(1)[0])  # a key the last commit wrote
        self.unread = False  # the last commit was not read back yet

    # ---- helpers --------------------------------------------------------
    def new_rows(self, keys) -> list[tuple]:
        self.tag += 1
        v = gen.entity_values(self.rng, np.asarray(keys, dtype=np.int64), self.tag)
        return list(zip(*[v[f] for f in FIELDS]))

    def live_keys(self, n: int) -> list[int]:
        """``n`` distinct Zipf-drawn keys that are in the table, so a delete
        removes exactly ``n`` rows."""
        out: dict[int, None] = {}
        while len(out) < n:
            for k in self.zipf.draw(n):
                if len(out) < n and int(k) in self.model.table:
                    out.setdefault(int(k), None)
        return list(out)

    def frame(self, rows):
        """Rows as a DataFrame through Arrow (a pandas frame), the session's
        configured path: a list of tuples would go through Python workers."""
        import pandas as pd

        return self.spark.createDataFrame(pd.DataFrame(rows, columns=list(FIELDS)), KV_SCHEMA)

    def collect(self, df) -> list:
        return self.run.action(df)

    def disk(self):
        return probes.file_sizes(self.bt_path), probes.file_sizes(self.stash_path)

    def read_back(self) -> None:
        """Read-your-writes: an untimed point read of a key the last commit
        wrote.  It runs before the op that follows the commit, unless that
        op is ``bt_ryw``, the timed read of the same key."""
        if self.unread:
            self.unread = False
            k = self.last_key
            self.run.op(
                "ryw_check",
                lambda: as_tuples(self.bt.read(self.spark, where=f"k = {k}").collect()),
                lambda out: check_rows(out, self.model.table_rows([k])),
                measured=False,
            )

    # ---- ops: build one op's call and its check, then run it ------------
    def op(self, kind: str, measured=True):
        m, sp, run = self.model, self.spark, self.run
        if kind != "bt_ryw":
            self.read_back()
        write = kind in KV_WRITES
        pre = post = None
        if kind == "stash_get":
            k = int(self.zipf.draw(1)[0])
            fn = lambda: self.collect(self.stash.get(k))  # noqa: E731
            check = lambda out: check_rows(as_tuples(out), m.stash_rows([k]))  # noqa: E731
        elif kind == "stash_mget":
            ks = self.zipf.distinct(16)
            fn = lambda: self.collect(self.stash.mget(ks))  # noqa: E731
            check = lambda out: check_rows(as_tuples(out), m.stash_rows(ks))  # noqa: E731
        elif kind == "stash_get_fields":
            k = int(self.zipf.draw(1)[0])
            fn = lambda: self.collect(self.stash.get_fields(k, ["a", "c"]))  # noqa: E731
            check = lambda out: check_rows(  # noqa: E731
                as_tuples(out, ("k", "a", "c")),
                [(r[0], r[2], r[4]) for r in m.stash_rows([k])],
            )
        elif kind == "stash_scan_range":
            lo = int(self.zipf.draw(1)[0])
            fn = lambda: self.collect(self.stash.scan_range(lo, lo + 999))  # noqa: E731
            check = lambda out: check_rows(as_tuples(out), m.stash_range(lo, lo + 999))  # noqa: E731
        elif kind in ("bt_point", "bt_bloom_in", "bt_ryw"):
            if kind == "bt_point":
                ks = [int(self.zipf.draw(1)[0])]
                where = f"k = {ks[0]}"
            elif kind == "bt_ryw":
                self.unread = False
                ks = [self.last_key]
                where = f"k = {ks[0]}"
            else:
                ks = self.zipf.distinct(4)
                where = "uid IN ({})".format(", ".join(f"'{gen.uid_of(k)}'" for k in ks))
            fn = lambda: self.collect(self.bt.read(sp, where=where))  # noqa: E731
            check = lambda out: check_rows(as_tuples(out), m.table_rows(ks))  # noqa: E731
            if kind != "bt_ryw":
                post = lambda _s, _o: {"files_scanned": self.bt.scan_file_count(where)}  # noqa: E731
        elif kind == "bt_time_travel":
            v = max(0, m.version - 5)
            fn = lambda: run.action(self.bt.read(sp, version=v), count=True)  # noqa: E731
            check = lambda out: None if out == m.count_at(v) else (  # noqa: E731
                f"count {out} at v{v}, expected {m.count_at(v)}")
        elif kind == "stash_persist":
            rows = self.new_rows(self.zipf.distinct(16))

            def fn():
                self.stash = self.stash.add(self.frame(rows)).persist_to(
                    self.stash_path, n_buckets=16)

            submitted = sum(logical_row_bytes(r) for r in rows)

            def check(_out):
                m.stash_upsert(rows)
                k = rows[0][0]
                return check_rows(as_tuples(self.stash.get(k).collect()), m.stash_rows([k]))
        else:
            fn, check, submitted = self._table_write(kind)
        if write:
            pre = self.disk

            def post(before, _out):
                bt, st = self.disk()
                rec = {"bt_bytes": probes.bytes_new(before[0], bt),
                       "stash_bytes": probes.bytes_new(before[1], st),
                       "submitted": submitted}
                if kind != "stash_persist":
                    rec["files_rewritten"] = self._rewritten
                return rec

        run.op(kind, fn, check, measured=measured, write=write, pre=pre, post=post)

    def _table_write(self, kind: str):
        m, sp = self.model, self.spark
        if kind in ("append", "merge"):
            if kind == "append":
                keys = list(range(self.next_key, self.next_key + 256))
                self.next_key += 256
            else:
                keys = self.zipf.distinct(16)
            rows = self.new_rows(keys)

            def fn():
                df = self.frame(rows)
                if kind == "append":
                    return self.bt.append(sp, df)
                return self.bt.merge(sp, df, on="k")

            submitted = sum(logical_row_bytes(r) for r in rows)

            def apply(v):
                m.upsert(rows, v)
                return keys[0]
        elif kind in ("delete_mor", "delete_cow"):
            keys = self.live_keys(8)
            where = "k IN ({})".format(", ".join(map(str, keys)))
            mode = "merge_on_read" if kind == "delete_mor" else "copy_on_write"
            fn = lambda: self.bt.delete(sp, where, mode=mode)  # noqa: E731
            submitted = 0

            def apply(v):
                m.delete(keys, v)
                return keys[0]
        else:  # optimize: bin-pack the small files appends and merges left
            fn = lambda: self.bt.optimize(sp, small_file_rows=KV_FILE_ROWS // 2)  # noqa: E731
            submitted = 0

            def apply(v):
                m.commit(v)
                return int(self.zipf.draw(1)[0])

        before = set(self.bt.snapshot().files)

        def check(v):
            after = self.bt.snapshot()
            if after.version != v:
                return f"returned version {v}, log at {after.version}"
            self._rewritten = len(before - set(after.files))
            self.last_key = apply(v)
            self.unread = True
            return None

        return fn, check, submitted

    # ---- the workload ---------------------------------------------------
    def warm_up(self) -> None:
        """One untimed op of every kind, so no timed op pays for the first
        run of its code path (JIT, code generation)."""
        for kind in list(KV_READS) + list(dict.fromkeys(KV_WRITE_ORDER)):
            self.op(kind, measured=False)
        self.read_back()

    def cycle(self) -> None:
        """The writes in their fixed order, each followed by its share of
        the reads, which come in a seeded order."""
        for kind in gen.interleave(KV_WRITE_ORDER, gen.cycle_schedule(self.rng, KV_READS)):
            self.op(kind)
        self.read_back()

    def finish(self) -> None:
        snap = self.bt.snapshot()
        bt, st = self.disk()
        self.run.extra.update({
            "per_pass": dict(KV_MIX),
            "log_versions": snap.version + 1,
            "files_live": len(snap.files),
            "disk_bytes": sum(bt.values()) + sum(st.values()),
            "live_logical_bytes": self.model.live_logical_bytes(),
        })


def kv_mixed(run: Run, inputs, timer) -> None:
    inputs_dir, rows = inputs
    kv = KvMixed(run, inputs_dir, rows)
    timer("tables")
    kv.warm_up()
    timer("warmup")
    run.loop(kv.cycle, 2)
    kv.finish()
