"""Unit tests: SAMPLE, mutations, aggregate projections, system tables
(operator level, tiny DataFrames — SURVEY §5 strategy (a))."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_25_5_3_75_stable_spark.operators.mutations import (
    apply_row_mask,
    lightweight_delete,
    mutate_delete,
    mutate_update,
)
from clickhouse_25_5_3_75_stable_spark.operators.projections import (
    build_aggregate_projection,
    route_to_projection,
)
from clickhouse_25_5_3_75_stable_spark.operators.sampling import sample_by_key, sample_fraction


def _df(spark):
    return spark.createDataFrame(
        [(i, chr(ord("a") + i % 3), float(i * 10)) for i in range(30)],
        "k bigint, g string, v double",
    )


def test_sample_by_key_deterministic_and_disjoint(spark):
    df = _df(spark)
    s1 = sample_by_key(df, "k", 1, 3, offset=0, hashed=False)
    s2 = sample_by_key(df, "k", 1, 3, offset=1, hashed=False)
    s3 = sample_by_key(df, "k", 1, 3, offset=2, hashed=False)
    a, b, c = (sorted(r.k for r in s.collect()) for s in (s1, s2, s3))
    assert sorted(a + b + c) == list(range(30))  # slices partition the table
    assert a == sorted(r.k for r in sample_by_key(df, "k", 1, 3, hashed=False).collect())


def test_sample_by_key_hashed_stable(spark):
    df = _df(spark)
    r1 = sorted(r.k for r in sample_by_key(df, "k", 1, 2).collect())
    r2 = sorted(r.k for r in sample_by_key(df, "k", 1, 2).collect())
    assert r1 == r2 and 0 < len(r1) < 30


def test_sample_wraparound_ring(spark):
    df = _df(spark)
    s = sample_by_key(df, "k", 2, 3, offset=2, hashed=False)  # wraps: buckets {2, 0}
    ks = sorted(r.k for r in s.collect())
    assert ks == sorted(k for k in range(30) if k % 3 in (2, 0))


def test_sample_fraction_bounds(spark):
    df = _df(spark)
    assert sample_fraction(df, "k", 1.0).count() == 30


def test_mutate_update_and_delete(spark):
    df = _df(spark)
    up = mutate_update(df, F.col("g") == "a", {"v": F.col("v") + 1000})
    rows = {r.k: r.v for r in up.collect()}
    assert rows[0] == 1000.0 and rows[1] == 10.0
    de = mutate_delete(up, F.col("v") >= 1000)
    assert de.count() == 20 and de.filter(F.col("g") == "a").count() == 0


def test_mutate_update_unknown_column(spark):
    import pytest

    with pytest.raises(KeyError):
        mutate_update(_df(spark), F.lit(True), {"nope": F.lit(1)})


def test_lightweight_delete_mask(spark):
    df = _df(spark)
    masked = lightweight_delete(df, F.col("k") < 10)
    assert masked.filter(F.col("_row_exists")).count() == 20
    # second mark composes with the first
    masked = lightweight_delete(masked, F.col("k") >= 25)
    live = apply_row_mask(masked)
    assert live.count() == 15 and "_row_exists" not in live.columns


def test_projection_routing_matches_direct(spark):
    df = _df(spark)
    proj = build_aggregate_projection(df, keys=["g", "k"], sum_cols=["v"], minmax_cols=["v"])
    routed = route_to_projection(proj, keys=["g"], sum_cols=["v"], avg_cols=["v"], minmax_cols=["v"])
    direct = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("count_rows"),
        F.sum(F.col("v").cast("decimal(25,6)")).cast("double").alias("sum_v"),
        F.avg("v").alias("avg_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    got = {r.g: r for r in routed.collect()}
    want = {r.g: r for r in direct.collect()}
    assert set(got) == set(want)
    for g in want:
        assert got[g].count_rows == want[g].count_rows
        assert abs(got[g].sum_v - want[g].sum_v) < 1e-9
        assert abs(got[g].avg_v - want[g].avg_v) < 1e-9
        assert got[g].min_v == want[g].min_v and got[g].max_v == want[g].max_v


def test_system_tables(spark):
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import system_table

    sf = "/root/testdata/sf0.001"
    cols = system_table(spark, "columns", sf)
    assert cols.filter(F.col("table_name") == "region").count() == 2
    tabs = {r.table_name: r.n for r in ch_sql(
        spark, "SELECT table_name, count() AS n FROM system.columns "
        "GROUP BY table_name", sf).collect()}
    assert tabs["lineitem"] >= 10 and len(tabs) == 10
    assert system_table(spark, "one").collect()[0].dummy == 0


def test_catalog_enumerations_see_ddl_tables(spark, tmp_path):
    """system.columns, system.tables and merge() enumerate the data
    dir's catalog, so a dir holding only DDL tables lists them; DESCRIBE
    and system.columns agree on the type of events.ts."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.sources.table_functions import merge
    from tests.conftest import SF_SMOKE

    def run(sql, data_dir=str(tmp_path)):
        out = io.StringIO()
        assert run_local(sql, data_dir, spark=spark, out=out) == 0
        return out.getvalue().strip().splitlines()

    run("CREATE TABLE t (k Int64, v String) ENGINE = MergeTree ORDER BY k")
    run("INSERT INTO t VALUES (1, 'a')")
    assert run("SELECT table_name, column_name, data_type FROM system.columns "
               "ORDER BY pos FORMAT CSV") == ["t,k,bigint", "t,v,string"]
    assert run("SELECT name, total_rows FROM system.tables FORMAT CSV") == ["t,1"]
    assert [(r._table, r.k) for r in merge(spark, str(tmp_path), ".*").collect()] == [
        ("t", 1)]
    desc = [ln for ln in run("DESCRIBE events FORMAT CSV", SF_SMOKE)
            if ln.startswith("ts,")]
    col = run("SELECT data_type FROM system.columns WHERE table_name = 'events' "
              "AND column_name = 'ts' FORMAT CSV", SF_SMOKE)
    assert desc == ["ts,timestamp"] and col == ["timestamp"]


def test_range_dictionary_lookup(spark):
    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import RangeDictionary

    rates = spark.createDataFrame(
        [
            (1, 0, 10, "cheap"),
            (1, 10, 100, "mid"),
            (1, 5, 100, "overlap-late"),  # overlaps [5,100): latest start wins in [10,100)
            (2, 0, 50, "flat"),
        ],
        "k int, lo int, hi int, tier string",
    )
    facts = spark.createDataFrame(
        [(1, 3), (1, 20), (1, 7), (2, 49), (2, 50), (3, 1)], "k int, p int"
    )
    d = RangeDictionary(rates, key="k", range_start="lo", range_end="hi")
    out = d.dict_get(facts, F.col("k"), F.col("p"), {"tier": "tier"})
    got = {(r.k, r.p): r.tier for r in out.collect()}
    assert got[(1, 3)] == "cheap"
    assert got[(1, 20)] == "mid"  # overlap [5,100) vs [10,100): latest start (10) wins
    assert got[(1, 7)] == "overlap-late"  # [0,10) vs [5,100): latest start (5) wins
    assert got[(2, 49)] == "flat"
    assert got[(2, 50)] is None  # hi exclusive
    assert got[(3, 1)] is None  # unknown key


def test_salted_agg_exact(spark):
    from clickhouse_25_5_3_75_stable_spark.operators.skew import salted_agg

    # skewed: key 'hot' holds 80% of rows
    df = spark.createDataFrame(
        [("hot" if i % 10 < 8 else f"cold{i % 10}", float(i)) for i in range(1000)],
        "g string, v double",
    )
    got = {
        r.g: (r.count_rows, r.sum_v, r.min_v, r.max_v)
        for r in salted_agg(df, ["g"], sum_cols=["v"], minmax_cols=["v"], salt=8).collect()
    }
    want = {
        r.g: (r.n, r.s, r.mn, r.mx)
        for r in df.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(25,6)")).cast("double").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_salted_join_matches_plain(spark):
    from clickhouse_25_5_3_75_stable_spark.operators.skew import salted_join

    facts = spark.createDataFrame(
        [(1 if i % 10 < 9 else 2, i) for i in range(500)], "k int, x int"
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, name string")
    got = sorted((r.k, r.x, r.name) for r in salted_join(facts, dim, "k", salt=4).collect())
    want = sorted((r.k, r.x, r.name) for r in facts.join(dim, "k").collect())
    assert got == want


def test_merge_table_function(spark):
    from clickhouse_25_5_3_75_stable_spark.sources.table_functions import merge

    sf = "/root/testdata/sf0.001"
    out = merge(spark, sf, "region|nation")
    assert out.filter(F.col("_table") == "region").count() == 5
    assert out.filter(F.col("_table") == "nation").count() == 25
    # by-name union keeps both schemas' columns (missing -> null)
    assert "r_name" in out.columns and "n_name" in out.columns
    import pytest

    with pytest.raises(ValueError):
        merge(spark, sf, "nope.*")


def test_query_result_cache(spark):
    from clickhouse_25_5_3_75_stable_spark.operators.result_cache import QueryResultCache

    cache = QueryResultCache(max_entries=2)
    df = _df(spark)
    a = cache.get_or_cache(df.groupBy("g").count())
    # same semantic plan, new object -> same entry
    b = cache.get_or_cache(df.groupBy("g").count())
    assert a is b and len(cache) == 1
    assert a.storageLevel.useMemory
    # different plan -> new entry; third evicts the oldest (FIFO)
    cache.get_or_cache(df.groupBy("k").count())
    cache.get_or_cache(df.select("v"))
    assert len(cache) == 2
    assert cache.evict(df.select("v"))
    assert not cache.evict(df.select("v"))
    cache.clear()
    assert len(cache) == 0


def test_range_dictionary_preserves_duplicate_facts(spark):
    """dictGet is strictly row-preserving: two identical fact rows must
    produce two output rows (the overlap-dedup window partitions on a
    per-row id, not on the fact's column values)."""
    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import RangeDictionary

    rates = spark.createDataFrame([(1, 0, 10, "cheap")], "k int, lo int, hi int, tier string")
    facts = spark.createDataFrame([(1, 3), (1, 3)], "k int, p int")  # identical rows
    d = RangeDictionary(rates, key="k", range_start="lo", range_end="hi")
    out = d.dict_get(facts, F.col("k"), F.col("p"), {"tier": "tier"}).collect()
    assert len(out) == 2
    assert all(r.tier == "cheap" for r in out)


def test_salted_join_rejects_outer(spark):
    import pytest

    from clickhouse_25_5_3_75_stable_spark.operators.skew import salted_join

    facts = spark.createDataFrame([(1, "a")], "k int, v string")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k int, d string")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(facts, dim, "k", salt=4, how="right")
    # left works and does not duplicate
    out = salted_join(facts, dim, "k", salt=4, how="left").collect()
    assert len(out) == 1


def test_special_engines_memory_set_join_buffer_null(spark, tmp_path):
    """Memory/Set/Join/Buffer/Null engine analogues
    (registerStorages.cpp; StorageMemory/Set/Buffer/Null.h)."""
    from clickhouse_25_5_3_75_stable_spark.sources.engines import (
        BufferTable,
        JoinTable,
        MemoryTable,
        NullTable,
        SetTable,
    )

    # Memory
    mem = MemoryTable(spark, "mem_t", spark.range(5).withColumnRenamed("id", "k"))
    assert spark.sql("SELECT count(*) c FROM mem_t").collect()[0].c == 5
    mem.drop()

    # Set: IN / NOT IN via broadcast semi joins
    facts = spark.createDataFrame([(1,), (2,), (3,), (4,)], "k int")
    st = SetTable(spark.createDataFrame([(2,), (4,), (4,)], "k int"), "k")
    assert sorted(r.k for r in st.filter_in(facts, F.col("k")).collect()) == [2, 4]
    assert sorted(r.k for r in st.filter_in(facts, F.col("k"), negate=True).collect()) == [1, 3]
    plan = st.filter_in(facts, F.col("k"))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    # Join: joinGet broadcast lookup
    jt = JoinTable(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), "k")
    got = {r.k: r.v_out for r in jt.join_get(facts, "v", F.col("k"), "v_out").collect()}
    assert got == {1: "a", 2: "b", 3: None, 4: None}

    # Buffer: below threshold stays pending, flush lands parquet,
    # reads always see both tiers
    target = str(tmp_path / "buf_target")
    buf = BufferTable(spark, target, max_rows=100)
    buf.insert(spark.range(3).withColumnRenamed("id", "k"))
    assert buf.read().count() == 3  # unflushed but visible
    buf.insert(spark.range(200).withColumnRenamed("id", "k"))  # crosses threshold
    assert spark.read.parquet(target).count() == 203
    assert buf.read().count() == 203

    # Null: write succeeds, nothing stored anywhere to read
    NullTable.write(spark.range(10))


def test_system_functions_and_settings(spark):
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import system_table

    fns = system_table(spark, "functions")
    names = {r.name for r in fns.collect()}
    assert "todateorzero" in names or "toDateOrZero" in names
    excl = fns.filter(F.col("origin") == "excluded")
    assert excl.count() > 0
    assert excl.filter(F.col("exclusion_reason").isNull()).count() == 0
    st = system_table(spark, "settings")
    assert st.filter(F.col("name") == "spark.app.name").count() == 1


def test_system_parts_over_mergetree_layout(spark, tmp_path):
    from clickhouse_25_5_3_75_stable_spark.sources.catalog import load_table
    from clickhouse_25_5_3_75_stable_spark.sources.layout import write_mergetree_layout
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").limit(500)
    out = str(tmp_path / "mt")
    write_mergetree_layout(
        ev.withColumn("d", F.col("ts").cast("date")), out, partition_by=["d"],
        order_by=["user_id"],
    )
    parts = ch_sql(spark, "SELECT name, bytes_on_disk FROM system.parts "
                   "WHERE table = 'mt'", str(tmp_path))
    assert parts.count() > 0
    assert parts.agg(F.sum("bytes_on_disk")).collect()[0][0] > 0


def test_ttl_rollup_partitions_fresh_and_expired(spark):
    """TTL GROUP BY splits the table at the cutoff: fresh rows pass
    through untouched; expired rows collapse; counts reconcile."""
    from clickhouse_25_5_3_75_stable_spark.operators.ttl import apply_ttl_rollup
    from clickhouse_25_5_3_75_stable_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    now = ev.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    fresh, expired = apply_ttl_rollup(
        ev, "ts", "2 DAY", F.lit(now).cast("timestamp"),
        group_by=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    n_total = ev.count()
    n_fresh = fresh.count()
    n_expired_rows = expired.agg(F.sum("n")).collect()[0][0] or 0
    assert n_fresh + n_expired_rows == n_total
    assert n_fresh > 0 and n_expired_rows > 0  # cutoff splits the data
    # rollup really compresses: fewer stored rows than expired inputs
    assert expired.count() < n_expired_rows


def test_partition_detach_attach_drop(spark, tmp_path):
    """ALTER TABLE partition ops on the MergeTree layout: detach hides,
    attach restores, drop removes — all O(1) directory moves."""
    from clickhouse_25_5_3_75_stable_spark.sources.layout import (
        attach_partition,
        detach_partition,
        drop_partition,
        write_mergetree_layout,
    )

    df = spark.range(0, 300).selectExpr("id", "id % 3 AS p")
    path = str(tmp_path / "t")
    write_mergetree_layout(df, path, order_by=["id"], partition_by=["p"])
    assert spark.read.parquet(path).count() == 300

    detach_partition(path, "p", 1)
    assert spark.read.parquet(path).count() == 200  # p=1 invisible
    attach_partition(path, "p", 1)
    assert spark.read.parquet(path).count() == 300  # restored
    drop_partition(path, "p", 2)
    assert spark.read.parquet(path).count() == 200  # p=2 gone for good
    import pytest

    with pytest.raises(FileNotFoundError):
        detach_partition(path, "p", 99)


def test_system_tables_wide_surface(spark, tmp_path):
    """The round-3 system.* batch: each table materializes with its
    declared schema and plausible contents (reference exposes 208
    system tables — src/Storages/System/)."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import system_table

    assert "default" in {r.name for r in system_table(spark, "databases").collect()}

    fams = {r.name: r.spark_type for r in system_table(spark, "data_type_families").collect()}
    assert fams["UInt64"] and fams["Array"] == "array<bigint>"

    fmts = {r.name: r for r in system_table(spark, "formats").collect()}
    assert fmts["Parquet"].is_input == 1 and fmts["Pretty"].is_input == 0
    # MsgPack graduated to a real shim in round 3; Protobuf reports
    # honestly based on whether the spark-protobuf jar is loadable
    assert fmts["MsgPack"].is_input == 1
    from clickhouse_25_5_3_75_stable_spark.sources.protobuf_shim import (
        protobuf_available,
    )

    if protobuf_available(spark):
        assert fmts["Protobuf"].is_input == 1
    else:
        assert fmts["Protobuf"].is_input == 0
        assert "spark-protobuf" in fmts["Protobuf"].exclusion_reason
    # CapnProto graduated to a real shim in round 5 (capnproto_fmt.py)
    assert fmts["CapnProto"].is_input == 1

    tf_names = {r.name for r in system_table(spark, "table_functions").collect()}
    assert {"numbers", "generate_series", "values", "merge", "view"} <= tf_names

    combs = {r.name for r in system_table(spark, "aggregate_function_combinators").collect()}
    assert {"-If", "-State", "-Merge", "-Resample"} <= combs

    colls = {r.name: r.resolves_to for r in system_table(spark, "collations").collect()}
    assert colls["ci"] == "UNICODE_CI" and "UTF8_BINARY" in colls

    tz = system_table(spark, "time_zones")
    assert tz.filter(F.col("time_zone") == "UTC").count() == 1

    # detached_parts reflects a real DETACH on a partitioned table
    d = str(tmp_path)
    for stmt in ("CREATE TABLE layout (id Int64, p Int64) ENGINE = MergeTree "
                 "ORDER BY id PARTITION BY p",
                 "INSERT INTO layout SELECT number AS id, number % 2 AS p "
                 "FROM numbers(60)"):
        assert run_local(stmt, d, spark=spark, out=io.StringIO()) == 0
    detached = ("SELECT name, bytes_on_disk FROM system.detached_parts "
                "WHERE table = 'layout'")
    assert ch_sql(spark, detached, d).count() == 0
    run_local("ALTER TABLE layout DETACH PARTITION 1", d, spark=spark,
              out=io.StringIO())
    det = ch_sql(spark, detached, d).collect()
    assert len(det) == 1 and det[0].name == "p=1" and det[0].bytes_on_disk > 0

    # parts_columns reads footer stats, never data
    pc = ch_sql(spark, "SELECT column, null_count FROM system.parts_columns "
                "WHERE table = 'layout'", d).collect()
    assert any(r.column == "id" and r.null_count == 0 for r in pc)

    disks = system_table(spark, "disks").collect()
    assert disks[0].total_space > disks[0].free_space > 0

    cl = system_table(spark, "clusters").collect()
    assert len(cl) >= 1 and cl[0].cluster == "default"

    opts = {r.name: r.value for r in system_table(spark, "build_options").collect()}
    assert opts["SPARK_VERSION"].startswith("4.")

    assert system_table(spark, "processes").columns == ["job_id", "status", "n_stages"]


def test_kill_query_cancels_tagged_job(spark):
    """KILL QUERY analogue: a tagged long-running action dies when its
    job group is cancelled; the session survives for the next query."""
    import time

    from pyspark import InheritableThread

    from clickhouse_25_5_3_75_stable_spark.session import kill_query, tag_query

    errors = []

    def victim():
        try:
            tag_query(spark, "q-kill-me", "long scan")
            # ~10^11 rows of codegen sum: minutes uncancelled
            spark.range(100_000_000_000).selectExpr("sum(id * id)").collect()
            errors.append("completed (should have been killed)")
        except Exception as e:
            errors.append(type(e).__name__)
        finally:
            spark.sparkContext.setJobGroup(None, None)

    th = InheritableThread(target=victim)
    th.start()
    time.sleep(5)  # let the job start
    kill_query(spark, "q-kill-me")
    th.join(timeout=90)
    assert not th.is_alive(), "victim thread still running after kill"
    assert errors and errors[0] != "completed (should have been killed)"
    # session still healthy
    assert spark.range(5).count() == 5


def test_system_tables_round5_batch(spark):
    """Round-5 metadata/introspection batch (reference
    src/Storages/System/StorageSystem{Keywords,TableEngines,
    DatabaseEngines,MergeTreeSettings,StoragePolicies,Users,Roles,
    Grants,Privileges,Zeros,Warnings,Licenses,Events,Metrics}.cpp +
    the session query_log)."""
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
        record_query,
        system_table,
    )
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    kws = {r.keyword for r in system_table(spark, "keywords").collect()}
    assert {"SELECT", "PREWHERE", "QUALIFY", "ASOF", "PASTE"} <= kws

    engines = {r.name: r for r in system_table(spark, "table_engines").collect()}
    assert engines["MergeTree"].supports_ttl == 1
    assert engines["Memory"].supports_ttl == 0
    assert "GraphiteMergeTree" in engines

    assert {r.name for r in system_table(spark, "database_engines").collect()} == {
        "Atomic", "Memory"}
    mts = {r.name for r in system_table(spark, "merge_tree_settings").collect()}
    assert "index_granularity" in mts
    assert system_table(spark, "storage_policies").collect()[0].policy_name == "default"

    users = system_table(spark, "users").collect()
    assert len(users) == 1 and users[0].name == "default"
    assert system_table(spark, "roles").count() == 0
    assert system_table(spark, "grants").collect()[0].access_type == "ALL"
    assert all(r.enforced == 0 for r in system_table(spark, "privileges").collect())

    assert ch_sql(spark, "SELECT zero FROM system.zeros LIMIT 5").count() == 5
    system_table(spark, "warnings").collect()  # shape only (env-dependent rows)
    lic = {r.library_name: r.license_type for r in system_table(spark, "licenses").collect()}
    assert lic["pyspark"] == "Apache-2.0"

    # query log + counters: chsql records on transpile
    before = system_table(spark, "query_log").count()
    ch_sql(spark, "SELECT 1 AS x")
    log = system_table(spark, "query_log")
    assert log.count() == before + 1
    last = log.collect()[-1]
    assert last.type == "QueryStart" and "SELECT 1" in last.query
    ev = {r.event: r.value for r in system_table(spark, "events").collect()}
    assert ev.get("Query", 0) >= 1 and ev.get("SelectQuery", 0) >= 1

    mets = {r.metric for r in system_table(spark, "metrics").collect()}
    assert {"ActiveJobs", "DefaultParallelism", "QueryLogEntries"} <= mets

    # profiler records QueryFinish with duration + result rows
    from clickhouse_25_5_3_75_stable_spark.profiler import explain_analyze

    explain_analyze(spark.range(10).selectExpr("sum(id) s"))
    fin = [r for r in system_table(spark, "query_log").collect() if r.type == "QueryFinish"]
    assert fin and fin[-1].result_rows == 1 and fin[-1].query_duration_ms > 0


def test_system_statements(spark, tmp_path):
    """SYSTEM statement subset (InterpreterSystemQuery.cpp): STOP
    MERGES parks OPTIMIZE, START resumes; DROP QUERY CACHE clears the
    process cache; unknown subsystems refuse by name."""
    import io

    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.ddl import Database
    from clickhouse_25_5_3_75_stable_spark.operators.result_cache import (
        default_cache,
    )

    d = str(tmp_path)
    db = Database(spark, d)
    db.create_table(
        "CREATE TABLE t_sys (id Int64, v Int64) ENGINE = MergeTree ORDER BY id")
    db.insert_into("t_sys", spark.createDataFrame([(1, 10), (2, 20)],
                                                  "id long, v long"))

    out = io.StringIO()
    run_local("SYSTEM STOP MERGES", d, spark=spark, out=out)
    with _pytest.raises(ValueError, match="merges are stopped"):
        run_local("OPTIMIZE TABLE t_sys FINAL", d, spark=spark, out=out)
    run_local("SYSTEM START MERGES", d, spark=spark, out=out)
    run_local("OPTIMIZE TABLE t_sys FINAL", d, spark=spark, out=out)

    cache = default_cache()
    df = spark.range(3).toDF("id")
    cache.get_or_cache(df)
    assert len(cache) >= 1
    run_local("SYSTEM DROP QUERY CACHE", d, spark=spark, out=out)
    assert len(cache) == 0
    with _pytest.raises(ValueError, match="no analogue"):
        run_local("SYSTEM SYNC REPLICA t_sys", d, spark=spark, out=out)


def test_system_tables_full_reference_columns(spark):
    """The full system.tables surface carries the reference's column
    list (StorageSystemTables.cpp, 25.5) in order, plus the `table`
    alias; quick-stats come from parquet footers."""
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import system_table

    df = system_table(spark, "tables", "/root/testdata/sf0.001")
    want = [
        "database", "name", "uuid", "engine", "is_temporary", "data_paths",
        "metadata_path", "metadata_modification_time", "metadata_version",
        "dependencies_database", "dependencies_table", "create_table_query",
        "engine_full", "as_select", "parameterized_view_parameters",
        "partition_key", "sorting_key", "primary_key", "sampling_key",
        "storage_policy", "total_rows", "total_bytes",
        "total_bytes_uncompressed", "parts", "active_parts", "total_marks",
        "active_on_fly_data_mutations", "active_on_fly_alter_mutations",
        "active_on_fly_metadata_mutations", "lifetime_rows",
        "lifetime_bytes", "comment", "has_own_data",
        "loading_dependencies_database", "loading_dependencies_table",
        "loading_dependent_database", "loading_dependent_table", "table",
    ]
    assert df.columns == want
    rows = {r.name: r for r in df.collect()}
    assert rows["nation"].total_rows == 25
    assert rows["nation"].table == "nation"
    assert rows["nation"].total_bytes > 0
    assert rows["nation"].total_bytes_uncompressed > 0
    assert rows["nation"].total_marks >= 1
    assert rows["nation"].engine == "MergeTree"
    assert rows["nation"].lifetime_rows is None  # Buffer-only, like the ref
    assert "CREATE TABLE default.nation" in rows["nation"].create_table_query


def test_system_detached_parts_full(spark, tmp_path):
    """Reference column set + the DetachedPartInfo reason-prefix parse:
    a clean DETACH has NULL reason; a 'broken_'-prefixed directory
    reports reason='broken' and the bare partition id."""
    import os

    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    d = str(tmp_path)
    for stmt in ("CREATE TABLE layout (id Int64, p Int64) ENGINE = MergeTree "
                 "ORDER BY id PARTITION BY p",
                 "INSERT INTO layout SELECT number AS id, number % 2 AS p "
                 "FROM numbers(40)",
                 "ALTER TABLE layout DETACH PARTITION 1"):
        assert run_local(stmt, d, spark=spark, out=io.StringIO()) == 0
    path = os.path.join(d, "layout")
    # simulate the reference's broken-part quarantine naming
    os.rename(os.path.join(path, "p=0"),
              os.path.join(path, "_detached", "broken_p=0"))
    rows = {r.name: r for r in ch_sql(
        spark, "SELECT * FROM system.detached_parts", d).collect()}
    assert set(rows) == {"p=1", "broken_p=0"}
    clean, broken = rows["p=1"], rows["broken_p=0"]
    assert clean.reason is None and clean.partition_id == "p=1"
    assert broken.reason == "broken" and broken.partition_id == "p=0"
    assert clean.bytes_on_disk > 0 and clean.database == "default"
    assert clean.min_block_number is None and clean.level is None
    assert list(rows["p=1"].asDict()) == [
        "database", "table", "partition_id", "name", "bytes_on_disk",
        "modification_time", "disk", "path", "reason", "min_block_number",
        "max_block_number", "level",
    ]


def test_system_backups_log(spark, tmp_path, sf_dir):
    """system.backups reflects real BACKUP/RESTORE operations with the
    reference's statuses (BackupStatus.h)."""
    import shutil

    from clickhouse_25_5_3_75_stable_spark.ddl import (
        backup_table,
        restore_table,
    )
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import system_table

    base = tmp_path / "data"
    (base / "t1").mkdir(parents=True)
    shutil.copy(f"{sf_dir}/nation.parquet", base / "t1" / "part.parquet")
    before = system_table(spark, "backups").count()
    backup_table(str(base), "t1", str(tmp_path / "bk"))
    shutil.rmtree(base / "t1")
    restore_table(spark, str(base), "t1", str(tmp_path / "bk"))
    rows = system_table(spark, "backups").collect()
    assert len(rows) == before + 2
    statuses = [r.status for r in rows[-2:]]
    assert statuses == ["BACKUP_CREATED", "RESTORED"]
    assert rows[-2].num_files >= 1 and rows[-2].total_size > 0
    assert rows[-2].name.startswith("File('")


def test_ip_trie_dictionary_longest_prefix(spark):
    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import IPTrieDictionary

    cidrs = spark.createDataFrame(
        [
            ("10.0.0.0/8", "corp"),
            ("10.1.0.0/16", "dc1"),
            ("10.1.128.0/17", "dc1-high"),
            ("0.0.0.0/0", "v4-any"),
            ("2001:db8::/32", "doc-net"),
        ],
        "cidr string, zone string",
    )
    facts = spark.createDataFrame(
        [
            ("10.2.3.4",),       # /8 only
            ("10.1.5.6",),       # /16 beats /8
            ("10.1.200.1",),     # /17 beats /16 (200 >= 128)
            ("10.1.127.255",),   # /16 (127 < 128)
            ("8.8.8.8",),        # only 0.0.0.0/0
            ("2001:db8:1::1",),  # IPv6 prefix
            ("2001:db9::1",),    # no match at all (v4-any is 96+0 bits of ::ffff)
            ("not-an-ip",),      # unparseable -> default
            (None,),             # NULL -> default
        ],
        "ip string",
    )
    d = IPTrieDictionary(cidrs, cidr="cidr")
    out = d.dict_get(facts, F.col("ip"), {"zone": "zone"},
                     defaults={"zone": F.lit("miss")})
    got = {r.ip: r.zone for r in out.collect()}
    assert got["10.2.3.4"] == "corp"
    assert got["10.1.5.6"] == "dc1"
    assert got["10.1.200.1"] == "dc1-high"
    assert got["10.1.127.255"] == "dc1"
    assert got["8.8.8.8"] == "v4-any"
    assert got["2001:db8:1::1"] == "doc-net"
    assert got["2001:db9::1"] == "miss"
    assert got["not-an-ip"] == "miss"
    assert got[None] == "miss"
    assert out.count() == 9  # strictly row-preserving


def test_polygon_dictionary_raycast_and_overlap(spark):
    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import PolygonDictionary

    def ring(*pts):
        return [{"x": float(a), "y": float(b)} for a, b in pts]

    polys = spark.createDataFrame(
        [
            # CONCAVE L-shape: covers [0,4]x[0,2] plus [0,2]x[2,4]
            (1, "ell", ring((0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4))),
            # triangle
            (2, "tri", ring((5, 0), (9, 0), (5, 4))),
            # square overlapping the L-shape; larger key loses
            (3, "sq", ring((1, 1), (3, 1), (3, 3), (1, 3))),
        ],
        "pid int, zone string, verts array<struct<x:double,y:double>>",
    )
    facts = spark.createDataFrame(
        [
            (3.5, 1.5),   # inside L (bbox of L contains it; concave part matters below)
            (3.5, 3.5),   # inside L's BBOX but OUTSIDE the L (concave notch) and sq -> none
            (1.5, 1.5),   # inside both ell and sq -> smallest key (ell)
            (2.5, 2.5),   # outside ell (notch) but inside sq
            (6.0, 1.0),   # inside tri
            (8.5, 3.5),   # inside tri bbox, outside hypotenuse -> none
        ],
        "x double, y double",
    )
    d = PolygonDictionary(polys, key="pid", vertices="verts")
    out = d.dict_get(facts, F.col("x"), F.col("y"), {"zone": "zone"},
                     defaults={"zone": F.lit("none")})
    got = {(r.x, r.y): r.zone for r in out.collect()}
    assert got[(3.5, 1.5)] == "ell"
    assert got[(3.5, 3.5)] == "none"
    assert got[(1.5, 1.5)] == "ell"   # overlap -> smallest key
    assert got[(2.5, 2.5)] == "sq"    # concave notch excluded from ell
    assert got[(6.0, 1.0)] == "tri"
    assert got[(8.5, 3.5)] == "none"
    assert out.count() == 6


def test_system_dictionaries_and_macros(spark):
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import (
        IPTrieDictionary,
        RangeDictionary,
    )

    cidrs = spark.createDataFrame(
        [("10.0.0.0/8", "corp")], "cidr string, zone string")
    IPTrieDictionary(cidrs, cidr="cidr", name="net_zones")
    RangeDictionary(
        spark.createDataFrame([(1, 0, 10, "a")], "k int, lo int, hi int, t string"),
        key="k", range_start="lo", range_end="hi", name="tiers",
    )
    rows = {r.name: r for r in ch_sql(
        spark, "SELECT * FROM system.dictionaries").collect()}
    assert rows["net_zones"].type == "ip_trie"
    assert rows["net_zones"].element_count == 1
    assert rows["net_zones"].attribute_names == "zone"
    assert rows["tiers"].type == "range_hashed"
    assert rows["tiers"].key == "k" and rows["tiers"].key_type == "int"


def test_ip_trie_refuses_bad_and_duplicate_cidrs(spark):
    import pytest

    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import IPTrieDictionary

    facts = spark.createDataFrame([("10.0.0.1",)], "ip string")
    bad = IPTrieDictionary(
        spark.createDataFrame([("10.0.0.0", "z")], "cidr string, zone string"),
        cidr="cidr",
    )
    with pytest.raises(ValueError, match="unparseable CIDR"):
        bad.dict_get(facts, F.col("ip"), {"zone": "zone"})
    dup = IPTrieDictionary(
        spark.createDataFrame(
            [("10.0.0.0/8", "a"), ("10.0.0.0/8", "b")], "cidr string, zone string"
        ),
        cidr="cidr",
    )
    with pytest.raises(ValueError, match="duplicate CIDR"):
        dup.dict_get(facts, F.col("ip"), {"zone": "zone"})
