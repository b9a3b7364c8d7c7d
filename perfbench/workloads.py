"""The three benchmark workloads.

Each workload is a closed loop with one client: the next operation is issued
only after the previous one returned. The loop runs whole cycles (a fixed,
seeded mix of operations ending in maintenance) until the time spent inside
operations reaches the run length. Every operation goes through the engine's
public API (`Catalog` / `Table`), and every read is checked against the same
query on the DuckDB shadow copy.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import data
from iceberg_spark import col, maintenance

# every table keeps its metadata directory bounded, so the end-of-run
# metadata size does not grow with the number of cycles a run completes
TABLE_PROPS = {"write.metadata.delete-after-commit.enabled": "true",
               "write.metadata.previous-versions-max": "10"}
MOR_PROPS = {**TABLE_PROPS, "format-version": "2",
             "write.delete.mode": "merge-on-read",
             "write.update.mode": "merge-on-read",
             "write.merge.mode": "merge-on-read"}
LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]
ROW_OPS = ("delete", "update", "merge", "upsert")


def q1_engine(t, cutoff: str):
    ep, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (t.scan(filter=col("l_shipdate") <= cutoff).df()
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.sum(ep).alias("sum_base_price"),
                 F.sum(ep * (1 - disc)).alias("sum_disc_price"),
                 F.sum(ep * (1 - disc) * (1 + tax)).alias("sum_charge"),
                 F.avg("l_quantity").alias("avg_qty"),
                 F.avg(ep).alias("avg_price"),
                 F.avg(disc).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


def q1_sql(table: str, cutoff: str) -> str:
    return f"""
        SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
               sum(l_extendedprice * (1 - l_discount)),
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
               avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
        FROM {table} WHERE l_shipdate <= DATE '{cutoff}'
        GROUP BY l_returnflag, l_linestatus"""


def q1_cutoff(rng) -> str:
    """A Q1 ship-date cutoff 60 to 120 days before the last ship date."""
    return data.day_to_iso(data.DAYS + 121 - int(rng.integers(60, 121)))


def point_engine(t, key: int):
    return t.scan(filter=col("l_orderkey") == key).df()


def point_sql(table: str, key: int) -> str:
    return f"SELECT * FROM {table} WHERE l_orderkey = {key}"


class Workload:
    """Shared plumbing: input files, the fixture build, reads and writes
    routed through the benchmark's timed `op`."""

    name = ""
    tables: tuple = ()  # engine table names; the shadow uses the same names
    MIN_CYCLES = 2

    def __init__(self, bench, seed: int, workdir: str):
        self.bench = bench
        self.seed = seed
        self.workdir = workdir
        self.rng = data.rng_for(seed, self.name)
        self.ns = "db"

    def ident(self, name: str) -> str:
        return f"{self.ns}.{name}"

    def write_input(self, name: str, table: pa.Table) -> str:
        path = f"{self.workdir}/input_{name}.parquet"
        pq.write_table(table, path)
        return path

    def load(self, name: str):
        return self.bench.catalog.load_table(self.ident(name))

    def read(self, label: str, build_df, want_sql: str, ordered: bool = False):
        def run():
            return self.bench.collect(build_df())
        self.bench.op("read", run, label=label,
                      check=lambda rows: self.bench.shadow_rows(rows, want_sql, ordered))

    def write(self, label: str, fn, shadow_apply):
        result = self.bench.op("write", fn, label=label)
        if result is not None:
            shadow_apply()
        return result

    def maint(self, label: str, fn):
        self.bench.op("maint", fn, label=label)

    def prepare(self):
        """Generate inputs and load the shadow copy (untimed)."""
        raise NotImplementedError

    def build(self, ns: str):
        """Create and fill the engine tables under namespace `ns` (timed as
        set-up)."""
        raise NotImplementedError

    def warmup(self):
        """Untimed first calls, so the loop does not pay them."""
        raise NotImplementedError

    def cycle(self):
        """One cycle of the timed loop, ending in maintenance. Returns the
        kind of cycle when a workload has several, else None."""
        raise NotImplementedError

    def round_done(self) -> bool:
        """Whether the cycles so far cover the workload's mix evenly, so
        the loop may stop here."""
        return True


class ReadAnalytics(Workload):
    """Four analytic queries over a month-partitioned lineitem plus orders,
    customer and nation. The fact tables never change; a trickle of customer
    sign-ups (one small append per cycle, compacted and expired at the end of
    the cycle) is the only write."""

    name = "read_analytics"
    N_ORDERS = 25_000
    NEW_CUSTOMERS = 25
    MIN_CYCLES = 3
    WARMUP_CYCLES = 3
    tables = ("lineitem", "orders", "customer", "nation")

    def prepare(self):
        d = data.tpch(self.seed, self.N_ORDERS)
        self.inputs = {k: self.write_input(k, v) for k, v in d.items()}
        for k, v in d.items():
            self.bench.shadow.load(k, v)
        self.next_cust = d["customer"].num_rows + 1
        self.queries = self._queries()

    def build(self, ns: str):
        spark, cat = self.bench.spark, self.bench.catalog
        for name, path in self.inputs.items():
            df = spark.read.parquet(path)
            part = ["month(l_shipdate)"] if name == "lineitem" else None
            t = cat.create_table(f"{ns}.{name}", df.schema, partition_by=part,
                                 properties=TABLE_PROPS)
            t.append(df)

    def _queries(self):
        """The four query shapes, their literals drawn once per run: an
        analyst re-runs the same reports, and a new literal costs a fresh
        plan (about twice a repeat) that would otherwise dominate the
        spread between runs. Ranges are narrow so seeds do similar work."""
        rng = self.rng
        n = self.N_ORDERS
        cutoff = q1_cutoff(rng)
        d0 = int(rng.integers(0, data.DAYS - 45))
        kc = d0 * n // (data.DAYS - 31)
        k0, k1 = max(kc - n // 50, 1), kc + n // 50
        lo, hi = data.day_to_iso(d0), data.day_to_iso(d0 + 45)
        seg = str(data.SEGMENTS[rng.integers(0, len(data.SEGMENTS))])
        d3 = data.day_to_iso(int(rng.integers(int(data.DAYS * 0.45), int(data.DAYS * 0.55))))
        key = int(rng.integers(1, n + 1))

        def q1():
            return q1_engine(self.load("lineitem"), cutoff)

        def range_scan():
            f = ((col("l_shipdate") >= lo) & (col("l_shipdate") < hi)
                 & (col("l_orderkey") >= k0) & (col("l_orderkey") < k1))
            return (self.load("lineitem").scan(filter=f).df()
                    .agg(F.count(F.lit(1)), F.sum("l_extendedprice"), F.sum("l_quantity")))

        def q3():
            c = (self.load("customer").scan(filter=col("c_mktsegment") == seg).df()
                 .select("c_custkey"))
            o = (self.load("orders").scan(filter=col("o_orderdate") < d3).df()
                 .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"))
            li = (self.load("lineitem").scan(filter=col("l_shipdate") > d3).df()
                  .select("l_orderkey", "l_extendedprice", "l_discount"))
            return (c.join(o, c.c_custkey == o.o_custkey)
                    .join(li, li.l_orderkey == o.o_orderkey)
                    .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
                    .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                         .alias("revenue"))
                    .orderBy(F.desc("revenue"), "l_orderkey").limit(10)
                    .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority"))

        q3_sql = f"""
            SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
                   o_orderdate, o_orderpriority
            FROM customer, orders, lineitem
            WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < DATE '{d3}' AND l_shipdate > DATE '{d3}'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10"""
        range_sql = f"""
            SELECT count(*), sum(l_extendedprice), sum(l_quantity) FROM lineitem
            WHERE l_shipdate >= DATE '{lo}' AND l_shipdate < DATE '{hi}'
              AND l_orderkey >= {k0} AND l_orderkey < {k1}"""
        return [("q1", q1, q1_sql("lineitem", cutoff), False),
                ("range", range_scan, range_sql, False),
                ("q3", q3, q3_sql, True),
                ("point", lambda: point_engine(self.load("lineitem"), key),
                 point_sql("lineitem", key), False)]

    def warmup(self):
        """Untimed cycles: the first compaction and the first run of each
        query shape cost two to three times a warm one, and later runs keep
        getting faster for a few cycles more while the JVM compiles them."""
        for _ in range(self.WARMUP_CYCLES):
            self.cycle()

    def cycle(self):
        for j in self.rng.permutation(len(self.queries)):
            label, build_df, sql, ordered = self.queries[j]
            self.read(label, build_df, sql, ordered)
        batch = data.customers(self.rng, self.next_cust, self.NEW_CUSTOMERS)
        self.next_cust += self.NEW_CUSTOMERS
        df = self.bench.spark.createDataFrame(batch)
        self.write("append_customers", lambda: self.load("customer").append(df),
                   lambda: self.bench.shadow.insert("customer", batch))
        self.maint("rewrite_data_files", lambda: self.load("customer").rewrite_data_files())
        self.maint("expire_snapshots",
                   lambda: self.load("customer").expire_snapshots(retain_last=1))


class MorChurn(Workload):
    """Row-level churn on one merge-on-read lineitem table: DELETE, UPDATE,
    MERGE and equality upsert, each on about 1% of the rows and each
    followed by a Q1-shape aggregate and a point lookup into the rows it
    touched. A cycle is one row-level operation, its reads, and compaction
    of the delete files and the data files; the seed orders the operations,
    every four cycles run each once. Compacting after every operation keeps
    the delete files a read sees after each kind of operation alike from
    run to run, and gives maint_s one compaction round after each kind."""

    name = "mor_churn"
    N_ORDERS = 25_000
    WARM_ORDERS = 500
    tables = ("lineitem",)

    def prepare(self):
        d = data.tpch(self.seed, self.N_ORDERS)
        self.inputs = {"lineitem": self.write_input("lineitem", d["lineitem"])}
        self.bench.shadow.load("lineitem", d["lineitem"])
        self.next_key = self.N_ORDERS + 1
        self.pending = []
        self.table, self.n_orders = "lineitem", self.N_ORDERS
        self.cutoff = q1_cutoff(self.rng)  # one per run, as in read_analytics

    def build(self, ns: str):
        self._create(f"{ns}.lineitem", self.bench.spark.read.parquet(self.inputs["lineitem"]))

    def _create(self, ident: str, df):
        self.bench.catalog.create_table(ident, df.schema, properties=MOR_PROPS).append(df)

    def warmup(self):
        """DELETE, UPDATE and upsert once on a small twin table, then its
        compaction, and the two read shapes on the table itself, so the
        timed loop does not pay their first-call costs (MERGE costs the
        same warm or cold)."""
        small = data.tpch(self.seed, self.WARM_ORDERS)["lineitem"]
        self.bench.shadow.load("warm", small)
        self._create(self.ident("warm"), self.bench.spark.createDataFrame(small))
        self.table, self.n_orders = "warm", self.WARM_ORDERS
        for op in ("delete", "update", "upsert"):
            self._row_op(op, reads=False)
        self._compact()
        self.table, self.n_orders = "lineitem", self.N_ORDERS
        self.bench.catalog.drop_table(self.ident("warm"))
        self.bench.shadow.execute("DROP TABLE warm")
        # the run's Q1 literal is planned once here, not in the first read
        self.bench.collect(q1_engine(self.load("lineitem"), self.cutoff))
        self.bench.collect(point_engine(self.load("lineitem"), 1))

    def _reads(self, after: str, key: int):
        # labelled by the operation before them: the delete files a read
        # must apply, and so its cost, depend on it
        t, cutoff = self.table, self.cutoff
        self.read(f"q1_after_{after}", lambda: q1_engine(self.load(t), cutoff),
                  q1_sql(t, cutoff))
        self.read(f"point_after_{after}", lambda: point_engine(self.load(t), key),
                  point_sql(t, key))

    def _changed_batch(self, k0: int, k1: int) -> pa.Table:
        """Rows of keys [k0, k1) with new tax and price, plus new orders
        (a tenth of the batch's orders) that do not match any row."""
        old = self.bench.shadow.arrow(
            f"SELECT * FROM {self.table} WHERE l_orderkey >= {k0} "
            f"AND l_orderkey < {k1} ORDER BY l_orderkey, l_linenumber")
        tax = pc.round(pc.add(old["l_tax"], 0.01), 2)
        price = pc.round(pc.multiply(old["l_extendedprice"], 1.01), 2)
        old = old.set_column(old.schema.get_field_index("l_tax"), "l_tax", tax)
        old = old.set_column(old.schema.get_field_index("l_extendedprice"),
                             "l_extendedprice", price)
        n_new = max((k1 - k0) // 10, 1)
        keys = np.arange(self.next_key, self.next_key + n_new, dtype="int64")
        self.next_key += n_new
        days = data.order_days(self.rng, keys - self.N_ORDERS, self.N_ORDERS)
        new = data.lineitems_for_orders(self.rng, keys, days)
        return pa.concat_tables([old.cast(data.LINEITEM_SCHEMA), new])

    def _row_op(self, op: str, reads: bool = True):
        t, sh = self.table, self.bench.shadow
        step = max(self.n_orders // 100, 1)
        k0 = int(self.rng.integers(1, self.n_orders - step))
        k1 = k0 + step
        where = f"l_orderkey >= {k0} AND l_orderkey < {k1}"
        cond = (col("l_orderkey") >= k0) & (col("l_orderkey") < k1)
        if op == "delete":
            self.write("delete", lambda: self.load(t).delete_where(cond),
                       lambda: sh.execute(f"DELETE FROM {t} WHERE {where}"))
        elif op == "update":
            self.write("update",
                       lambda: self.load(t).update(cond, {"l_quantity": "l_quantity + 1"}),
                       lambda: sh.execute(
                           f"UPDATE {t} SET l_quantity = l_quantity + 1 WHERE {where}"))
        else:
            batch = self._changed_batch(k0, k1)
            src = self.bench.spark.createDataFrame(batch)
            if op == "merge":
                def fn():
                    return (self.load(t).merge(src, LINEITEM_KEYS)
                            .when_matched_update({c: f"s.{c}" for c in batch.column_names})
                            .when_not_matched_insert().execute())
            else:
                def fn():
                    return self.load(t).upsert(src, LINEITEM_KEYS)
            self.write(op, fn, lambda: sh.replace_by_key(t, batch, LINEITEM_KEYS))
        if reads:
            self._reads(op, k0 + int(self.rng.integers(0, step)))

    def round_done(self) -> bool:
        return not self.pending

    def cycle(self):
        if not self.pending:
            self.pending = [ROW_OPS[j] for j in self.rng.permutation(len(ROW_OPS))]
        op = self.pending.pop()
        self._row_op(op)
        self._compact()
        return op

    def _compact(self):
        t = self.table
        self.maint("rewrite_position_delete_files",
                   lambda: maintenance.rewrite_position_delete_files(self.load(t)))
        self.maint("rewrite_data_files", lambda: self.load(t).rewrite_data_files())


class IngestStream(Workload):
    """Append-heavy event log partitioned by day: small appends in time
    order with late rows into older days, an incremental read of the new
    snapshots and a filtered scan every third commit, and expiry, binpack
    and manifest rewrite at the end of every cycle of six commits."""

    name = "ingest_stream"
    BATCH = 300
    COMMITS = 6
    READ_EVERY = 3
    MIN_CYCLES = 3  # maint_s is a median over cycles; two cycles left it a mean
    SPAN_US = 24 * 3600 * 1_000_000 // COMMITS  # one day per cycle
    LATE_FRAC = 0.05
    LATE_WINDOW_US = 3 * 24 * 3600 * 1_000_000
    BACKFILL_DAYS = 3
    USERS = 5_000
    START_US = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    tables = ("events",)

    def prepare(self):
        n = self.BATCH * self.COMMITS * self.BACKFILL_DAYS
        backfill = data.events_batch(self.rng, 0, n, self.START_US,
                                     self.BACKFILL_DAYS * self.COMMITS * self.SPAN_US,
                                     0.0, 0, self.USERS)
        self.inputs = {"events": self.write_input("events", backfill)}
        self.bench.shadow.load("events", backfill)
        self.next_id = n
        self.now_us = self.START_US + self.BACKFILL_DAYS * self.COMMITS * self.SPAN_US
        self.table, self.commits = "events", self.COMMITS
        # the filtered scan's literals, one set per run
        self.kind = str(data.EVENT_KINDS[self.rng.integers(0, len(data.EVENT_KINDS))])
        self.u0 = int(self.rng.integers(1, self.USERS - self.USERS // 10))

    def build(self, ns: str):
        self.head_sid = self._create(f"{ns}.events",
                                     self.bench.spark.read.parquet(self.inputs["events"]))

    def _create(self, ident: str, df) -> int:
        t = self.bench.catalog.create_table(ident, df.schema, partition_by=["day(ts)"],
                                            properties=TABLE_PROPS)
        return t.append(df).snapshot_id

    def warmup(self):
        """A short cycle on a small twin table, so the timed loop does not
        pay first-call costs."""
        small = data.events_batch(self.rng, self.next_id, self.BATCH, self.now_us,
                                  self.SPAN_US, 0.0, 0, self.USERS)
        self.next_id += self.BATCH
        self.bench.shadow.load("warm", small)
        head = self.head_sid
        self.head_sid = self._create(self.ident("warm"), self.bench.spark.createDataFrame(small))
        self.table, self.commits = "warm", self.READ_EVERY
        self.cycle()
        self.table, self.commits, self.head_sid = "events", self.COMMITS, head
        self.bench.catalog.drop_table(self.ident("warm"))
        self.bench.shadow.execute("DROP TABLE warm")

    def _filtered(self):
        t, kind, u0 = self.table, self.kind, self.u0
        u1 = u0 + self.USERS // 10
        f = (col("kind") == kind) & (col("user_id") >= u0) & (col("user_id") < u1)
        self.read("filtered",
                  lambda: (self.load(t).scan(filter=f).df()
                           .agg(F.count(F.lit(1)), F.sum("value"))),
                  f"SELECT count(*), sum(value) FROM {t} WHERE kind = '{kind}' "
                  f"AND user_id >= {u0} AND user_id < {u1}")

    def cycle(self):
        t, sh = self.table, self.bench.shadow
        since_sid, since_id = self.head_sid, self.next_id
        for c in range(self.commits):
            batch = data.events_batch(self.rng, self.next_id, self.BATCH, self.now_us,
                                      self.SPAN_US, self.LATE_FRAC, self.LATE_WINDOW_US,
                                      self.USERS)
            self.next_id += self.BATCH
            self.now_us += self.SPAN_US
            df = self.bench.spark.createDataFrame(batch)
            snap = self.write("append", lambda: self.load(t).append(df),
                              lambda: sh.insert(t, batch))
            if c % self.READ_EVERY == self.READ_EVERY - 1 and since_sid is not None:
                lo, hi, from_sid = since_id, self.next_id, since_sid
                self.read("incremental",
                          lambda: (self.load(t).incremental_scan(from_sid)
                                   .agg(F.count(F.lit(1)), F.sum("value"),
                                        F.min("event_id"), F.max("event_id"))),
                          f"SELECT count(*), sum(value), min(event_id), max(event_id) "
                          f"FROM {t} WHERE event_id >= {lo} AND event_id < {hi}")
                self._filtered()
                since_sid = snap.snapshot_id if snap is not None else None
                since_id = self.next_id
        self.maint("expire_snapshots", lambda: self.load(t).expire_snapshots(retain_last=5))
        self.maint("rewrite_data_files", lambda: self.load(t).rewrite_data_files())
        self.maint("rewrite_manifests", lambda: self.load(t).rewrite_manifests())
        snap = self.load(t).current_snapshot()
        self.head_sid = snap.snapshot_id if snap is not None else None


WORKLOADS = {w.name: w for w in (ReadAnalytics, MorChurn, IngestStream)}
