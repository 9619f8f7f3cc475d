"""Quickstart: the engine end-to-end in one script.

Run:  python examples/quickstart.py  [sf_dir]  (default /root/testdata/sf0.001)

Covers the surfaces a reference-engine user needs on day one: create a
table, bulk-ingest, scan with pushdown, DML (update/delete/merge), time
travel + restore, compaction, a PromQL-style query, and an LLM-pipeline
dedup pass.
"""

import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F
from pyspark.sql import types as T

from horaedb_spark import StorageSchema, TimeRange, UpdateMode
from horaedb_spark.core.session import get_spark
from horaedb_spark.storage import ColumnarTable, ScanRequest, WriteRequest


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="quickstart")

    from horaedb_spark.queries.tables import events_ms, load_table

    # -- 1. create + bulk ingest ------------------------------------------
    schema = StorageSchema(
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        num_primary_keys=2,
        update_mode=UpdateMode.OVERWRITE,
    )
    table = ColumnarTable(
        spark, tempfile.mkdtemp(prefix="quickstart_"), schema, 15 * 86_400_000
    )
    ev = events_ms(spark, sf_dir).select("user_id", "event_type", "ts_ms", "value")
    table.bulk_ingest(ev, "ts_ms")
    print("rows:", table.scan().count(), "| ssts:", len(table.manifest.all_ssts()))

    # -- 2. scan with pushdown --------------------------------------------
    hot = table.scan(ScanRequest(predicate="value > 100.0", projections=["user_id", "value"]))
    print("hot rows:", hot.count())

    # -- 3. DML + time travel ---------------------------------------------
    before = max(h["file_id"] for h in table.history())
    table.update("event_type = 'error'", {"value": "value * 2"})
    table.delete("event_type = 'view'")
    print("after DML:", table.scan().count(),
          "| snapshot before:", table.scan(ScanRequest(as_of_seq=before)).count())
    table.restore(before)
    print("restored:", table.scan().count(), "| vacuumed:", len(table.vacuum()))

    # -- 4. PromQL-style query over the metric layer ----------------------
    from horaedb_spark.functions import promql

    samples = ev.select(
        F.col("event_type").alias("name"), "ts_ms", "value",
        F.col("user_id").cast("string").alias("sid"),
    )
    r = promql.rate(samples.filter(F.col("name") == "click"), ["sid"], 86_400_000)
    print("rate rows:", r.count())

    # -- 5. LLM-pipeline dedup over documents ------------------------------
    from horaedb_spark.functions.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    kept = exact_dedup(docs, "text", "doc_id")
    print("documents kept after exact dedup:", kept.count(), "of", docs.count())

    # -- 6. PromQL as a STRING (round 4): parser -> compiler -> engine -----
    from horaedb_spark.metric.engine import MetricEngine
    from horaedb_spark.metric.promql import promql_eval

    msamples = ev.select(
        F.col("event_type").alias("name"),
        F.create_map(
            F.lit("user"), F.col("user_id").cast("string"),
            F.lit("cohort"), (F.col("user_id") % 10).cast("string"),
        ).alias("labels"),
        "ts_ms", "value", F.lit(1).alias("seq"),
    )
    eng = MetricEngine(msamples)
    out = promql_eval(
        eng, 'topk(3, sum by (cohort) (rate(click[1d])))', 86_400_000
    )
    print("promql string eval rows:", out.count())

    # -- 7. the monitoring loop over HTTP (round 6): remote-write in, ------
    #       PromQL / rules / alerts / federation out
    import json
    import urllib.parse
    import urllib.request

    from horaedb_spark.metric.ingest import encode_write_request
    from horaedb_spark.metric.rules import AlertingRule, rules_table_schema
    from horaedb_spark.server import ControlServer
    from horaedb_spark.storage.compaction import Compactor, SchedulerConfig

    sink = ColumnarTable(
        spark, tempfile.mkdtemp(prefix="qs_http_") + "/t",
        rules_table_schema(), 365 * 86_400_000,
    )
    srv = ControlServer(
        Compactor(sink, SchedulerConfig()),
        write_table=sink,
        rules=[AlertingRule("HotHost", "cpu > 0.8", 1000, for_steps=2)],
    )
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"
    payload = encode_write_request(
        [
            {
                "name": "cpu",
                "labels": {"host": h},
                "samples": [(v, t) for t, v in zip((1000, 2000), vals)],
            }
            for h, vals in (("a", (0.9, 0.95)), ("b", (0.2, 0.85)))
        ],
        [{"type": "GAUGE", "family_name": "cpu", "help": "CPU.", "unit": ""}],
    )
    req = urllib.request.Request(base + "/api/v1/write", data=payload, method="POST")
    with urllib.request.urlopen(req, timeout=120) as r:
        print("remote-write:", json.loads(r.read()))

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=120) as r:
            return r.read().decode()

    q = urllib.parse.quote("max by (host) (cpu)")
    print("instant query:", json.loads(get(f"/api/v1/query?query={q}&step=1s"))["data"]["result"])
    # host=a exceeded 0.8 for two consecutive steps -> firing; b -> pending
    print("alerts:", json.loads(get("/api/v1/alerts"))["data"]["alerts"])
    sel = urllib.parse.quote("cpu")
    print("federate:\n" + get(f"/federate?match[]={sel}"), end="")
    srv.stop()

    # -- 8. multi-field metrics (round 9, RFC:106-113) ----------------------
    #       a Prometheus family folds into ONE metric with several fields;
    #       select one field via the API or the __field__ PromQL matcher
    from horaedb_spark.metric.ingest import group_metric_families

    fam = spark.createDataFrame(
        [
            ("http_req_sum", {"host": "a"}, 1000, 12.5, 1),
            ("http_req_count", {"host": "a"}, 1000, 3.0, 2),
            ("http_req_sum", {"host": "a"}, 2000, 20.0, 3),
            ("http_req_count", {"host": "a"}, 2000, 5.0, 4),
        ],
        "name string, labels map<string,string>, ts_ms long, value double, seq long",
    )
    feng = MetricEngine(group_metric_families(fam))
    print("fields:", [r["field_name"] for r in feng.fields("http_req").collect()])
    got = promql_eval(
        feng, 'sum_over_time(http_req{__field__="count"}[1h])', 3_600_000
    )
    print("__field__ matcher rows:", got.count())

    # -- 9. bucketed read-optimized mirror (round 9) -------------------------
    #       opt-in table property: joins/aggs on the bucket columns skip
    #       their exchange; the mirror follows compaction incrementally
    from horaedb_spark.storage import BucketSpec

    bt = ColumnarTable(
        spark, tempfile.mkdtemp(prefix="qs_bkt_"), schema, 15 * 86_400_000,
        bucket_spec=BucketSpec(8, ("user_id",)),
    )
    bt.bulk_ingest(ev.limit(10_000), "ts_ms")
    served = bt.bucketed_scan()  # builds the catalog mirror on first use
    per_user = served.groupBy("user_id").count()  # no exchange on the fact side
    print("bucketed mirror users:", per_user.count())

    # -- 10. metadata-only schema migration (round 10) -----------------------
    #        widen the PK of an already-written table without rewriting an
    #        SST: the added key column carries an existence default that
    #        pre-migration files surface on scan (compaction materializes
    #        it over time). MetricStore.migrate_legacy uses this to upgrade
    #        pre-multi-field stores in place.
    mig = ColumnarTable(
        spark, tempfile.mkdtemp(prefix="qs_mig_"),
        StorageSchema(
            T.StructType(
                [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
            ),
            num_primary_keys=1,
        ),
        15 * 86_400_000,
    )
    mig.write(
        WriteRequest(
            spark.createDataFrame([(1, 1.0)], "k long, v double"), TimeRange(0, 1000)
        )
    )
    mig.migrate_schema(
        StorageSchema(
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("shard", T.LongType()),
                    T.StructField("v", T.DoubleType()),
                ]
            ),
            num_primary_keys=2,
            column_defaults={"shard": 0},
        )
    )
    print("migrated scan:", mig.scan().collect())  # shard=0 from the default

    # -- 11. mirror-served metric engine (round 10) --------------------------
    #        a MetricStore whose DATA table opted into the tsid-bucketed
    #        mirror: engine() serves the already-MERGED state (no per-query
    #        dedup window) and per-series aggregations run exchange-free
    from horaedb_spark.metric.store import MetricStore
    from horaedb_spark.queries.tables import events_to_samples

    ms = MetricStore(
        spark, tempfile.mkdtemp(prefix="qs_ms_") + "/ms",
        15 * 86_400_000, data_buckets=8,
    )
    ms.ingest(events_to_samples(events_ms(spark, sf_dir).limit(10_000)))
    meng = ms.engine()  # auto: serves from the mirror, refreshed incrementally
    sel = meng.select_series("click")
    print("mirror-served click samples:", sel.count())

    # -- 12. histogram accessor family (round 11) ----------------------------
    #        histogram_count/sum/avg over a multi-field family: Prometheus
    #        defines them on native histograms; here they route to the
    #        family's count/sum FIELDS (histogram_avg = series-matched
    #        sum/count ratio), reusing the section-8 engine
    avg = promql_eval(feng, "histogram_avg(http_req)", 1000)
    print("histogram_avg rows:", [(r.ts_ms, r.value) for r in avg.collect()])

    # -- 13. retention: TTL expiry composed with the mirror (round 11) ------
    #        expire old data segments; the compaction-driven mirror refresh
    #        DROPS the expired catalog partitions, and rollups built before
    #        expiry keep serving the history the raw table no longer holds
    from horaedb_spark.storage.compaction import Compactor, SchedulerConfig

    hi = ms.data.scan().agg(F.max("ts_ms")).first()[0]
    cutoff = hi - hi % (15 * 86_400_000)
    comp = Compactor(ms.data, SchedulerConfig(input_sst_min_num=999, ttl_ms=1))
    for _ in range(16):
        if all(s.time_range.end >= cutoff + 1 for s in ms.data.manifest.all_ssts()):
            break
        comp.run_once(now_ms=cutoff + 2)
    print(
        "after TTL: live segments:",
        sorted({s.time_range.start - s.time_range.start % (15 * 86_400_000)
                for s in ms.data.manifest.all_ssts()}),
        "| mirror fresh:", ms.data.bucketed.is_fresh(),
        "| served rows:", ms.engine().select_series("click").count(),
    )


if __name__ == "__main__":
    main()
