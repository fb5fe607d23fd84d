"""catalog + athena modules — modeled on /root/reference/tests/test_athena*.py
(register dataset → SQL read-back → partition ops)."""

from __future__ import annotations

import pytest

from aws_data_wrangler_spark import athena, catalog, s3
from aws_data_wrangler_spark.exceptions import QueryFailed


@pytest.fixture()
def registered_table(spark, lineitem, tmp_prefix):
    db, tbl = "sg_cat_test", "li"
    out = f"{tmp_prefix}/li"
    s3.to_parquet(
        lineitem, out, dataset=True, partition_cols=["l_returnflag"],
        mode="overwrite", database=db, table=tbl,
    )
    yield db, tbl, out
    catalog.delete_database(db)


class TestCatalog:
    def test_create_and_read_back(self, spark, registered_table, lineitem):
        db, tbl, _ = registered_table
        assert catalog.does_table_exist(db, tbl)
        back = athena.read_sql_table(tbl, db)
        assert back.count() == lineitem.count()

    def test_partitions(self, spark, registered_table):
        db, tbl, _ = registered_table
        parts = catalog.get_partitions(db, tbl)
        values = sorted(v[0] for v in parts.values())
        assert values == ["A", "N", "R"]

    def test_delete_partitions(self, spark, registered_table):
        db, tbl, _ = registered_table
        catalog.delete_partitions(db, tbl, [["A"]])
        assert sorted(v[0] for v in catalog.get_partitions(db, tbl).values()) == ["N", "R"]
        deleted = catalog.delete_all_partitions(db, tbl)
        assert len(deleted) == 2
        assert catalog.get_partitions(db, tbl) == {}
        # MSCK re-discovers the directory layout
        catalog.repair_table_partitions(db, tbl)
        assert len(catalog.get_partitions(db, tbl)) == 3

    def test_table_metadata(self, spark, registered_table):
        db, tbl, out = registered_table
        types = catalog.get_table_types(db, tbl)
        assert types["l_orderkey"] == "bigint"
        assert types["l_returnflag"] == "string"
        location = catalog.get_table_location(db, tbl)
        assert location.rstrip("/").endswith(out.split("/")[-1])
        desc = catalog.table(db, tbl)
        assert desc.filter("partition = true").count() == 1

    def test_table_parameters(self, spark, registered_table):
        db, tbl, _ = registered_table
        # note: "owner"/"location"/"provider" are reserved in Spark DDL
        catalog.upsert_table_parameters({"team": "graft", "stage": "raw"}, db, tbl)
        params = catalog.get_table_parameters(db, tbl)
        assert params["team"] == "graft"
        catalog.overwrite_table_parameters({"team": "other"}, db, tbl)
        params = catalog.get_table_parameters(db, tbl)
        assert params["team"] == "other" and "stage" not in params

    def test_databases_tables_search(self, spark, registered_table):
        db, tbl, _ = registered_table
        assert db in catalog.get_databases()
        assert tbl in catalog.get_tables(db)
        assert f"{db}.{tbl}" in catalog.search_tables("li")

    def test_sanitize(self):
        assert catalog.sanitize_column_name("My Col-Name!") == "my_col_name"
        assert catalog.sanitize_table_name("CamelCase") == "camel_case"

    def test_drop_duplicated_columns(self, spark):
        df = spark.createDataFrame([(1, 2)], ["a", "b"]).toDF("a", "a")
        assert catalog.drop_duplicated_columns(df).columns == ["a"]


class TestAthena:
    def test_read_sql_query(self, spark, registered_table):
        db, tbl, _ = registered_table
        out = athena.read_sql_query(f"SELECT count(*) AS n FROM {tbl}", database=db)
        assert out.collect()[0]["n"] > 0
        spark.catalog.setCurrentDatabase("default")

    def test_query_lifecycle_failure(self, spark):
        qid = athena.start_query_execution("SELECT * FROM definitely_missing_xyz")
        assert athena.get_query_execution(qid)["State"] == "FAILED"
        with pytest.raises(QueryFailed):
            athena.wait_query(qid)

    def test_show_create_and_describe(self, spark, registered_table):
        db, tbl, _ = registered_table
        ddl = athena.show_create_table(tbl, db)
        assert "CREATE TABLE" in ddl
        assert athena.describe_table(tbl, db).count() > 0

    def test_ctas(self, spark, registered_table, tmp_prefix):
        db, tbl, _ = registered_table
        athena.create_ctas_table(
            f"SELECT l_returnflag, count(*) AS n FROM {db}.{tbl} GROUP BY l_returnflag",
            database=db, table="ctas_out", path=f"{tmp_prefix}/ctas",
        )
        out = athena.read_sql_table("ctas_out", db)
        assert out.count() == 3
        assert set(out.columns) == {"l_returnflag", "n"}

    def test_bucketed_join_has_no_shuffle(self, spark, lineitem):
        db = "sg_bucket_test"
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        catalog.create_bucketed_table(
            lineitem, db, "li_b", bucket_cols=["l_orderkey"], num_buckets=8,
            sort_cols=["l_orderkey"],
        )
        catalog.create_bucketed_table(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"), db, "ord_b",
            bucket_cols=["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"],
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(f"{db}.li_b").join(spark.table(f"{db}.ord_b"), "l_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # co-located bucketed join: no runtime exchange on either side
            assert "Exchange" not in plan
            assert joined.count() == lineitem.count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            catalog.delete_database(db)
            spark.catalog.setCurrentDatabase("default")

    def test_connection_registry(self):
        catalog.register_connection("warehouse", "postgresql", host="h", database="d")
        conn = catalog.get_connection("warehouse")
        assert conn["db_type"] == "postgresql"
        engine = catalog.get_engine("warehouse")
        assert engine.url == "jdbc:postgresql://h:5432/d"

    def test_store_parquet_metadata(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/meta"
        s3.to_parquet(lineitem, out, dataset=True, partition_cols=["l_linestatus"], mode="overwrite")
        res = s3.store_parquet_metadata(out, database="sg_cat_test2", table="li2")
        assert res["partitions_types"] == {"l_linestatus": "string"}
        assert athena.read_sql_table("li2", "sg_cat_test2").count() == lineitem.count()
        catalog.delete_database("sg_cat_test2")


def test_read_sql_query_ctas_approach(spark):
    from aws_data_wrangler_spark import athena
    from aws_data_wrangler_spark.plans.queries import register_tables

    register_tables(spark, "/root/testdata/sf0.001")
    lazy = athena.read_sql_query(
        "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
    )
    ctas = athena.read_sql_query(
        "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey",
        ctas_approach=True,
    )
    assert ctas.isStreaming is False
    assert sorted(map(tuple, ctas.collect())) == sorted(map(tuple, lazy.collect()))
    # materialized: the CTAS result is a real table scan, not the query plan
    assert "Aggregate" not in ctas.queryExecution().logical().toString() if hasattr(ctas, "queryExecution") else True
    # the temp table must NOT leak into the catalog (one permanent
    # managed table per call would accumulate across bench/driver runs);
    # the returned reader stays valid after the metadata-only drop
    leaked = [t.name for t in spark.catalog.listTables("default") if t.name.startswith("temp_ctas_")]
    assert leaked == []
    assert ctas.count() == lazy.count()
    spark.catalog.setCurrentDatabase("default")


class TestQueryCache:
    def test_cache_hit_within_ttl(self, spark, lineitem):
        from aws_data_wrangler_spark._config import config

        lineitem.limit(10).createOrReplaceTempView("qc_lineitem")
        sql = "SELECT count(*) AS n FROM qc_lineitem"
        try:
            config.max_cache_seconds = 300
            first = athena.read_sql_query(sql)
            second = athena.read_sql_query(sql)
            assert second is first  # same cached plan handed back
            assert first.storageLevel.useMemory  # marked for in-memory reuse
        finally:
            config.reset("max_cache_seconds")
            athena.flush_cache()
        # with caching off, a fresh plan every time
        third = athena.read_sql_query(sql)
        assert third is not first

    def test_cache_expiry_and_flush(self, spark, lineitem):
        import time

        from aws_data_wrangler_spark._config import config

        lineitem.limit(10).createOrReplaceTempView("qc_lineitem2")
        sql = "SELECT sum(l_quantity) AS s FROM qc_lineitem2"
        try:
            config.max_cache_seconds = 1
            first = athena.read_sql_query(sql)
            time.sleep(1.2)
            second = athena.read_sql_query(sql)
            assert second is not first  # TTL expired → re-planned
        finally:
            config.reset("max_cache_seconds")
            athena.flush_cache()
        assert not first.storageLevel.useMemory  # flush unpersisted it


class TestPlanAuditApi:
    def test_plan_summary_facts(self, spark, lineitem):
        from aws_data_wrangler_spark.plans import audit

        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").filter(
            "l_quantity > 40"
        ).select("l_orderkey", "l_quantity")
        s = audit.plan_summary(df)
        assert s["exchanges"] == 0 and s["pushed_filters"] and not s["python_eval"]
        audit.assert_no_shuffle(df)
        audit.assert_pushdown(df)

    def test_broadcast_join_assert(self, spark):
        nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        supplier = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
        from pyspark.sql import functions as F

        from aws_data_wrangler_spark.plans import audit

        joined = supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        audit.assert_broadcast_join(joined)
        with __import__("pytest").raises(AssertionError):
            audit.assert_no_shuffle(
                supplier.groupBy("s_nationkey").count()
            )


class TestStatistics:
    def test_compute_statistics_feeds_cbo(self, spark, lineitem, tmp_prefix):
        from aws_data_wrangler_spark import s3

        s3.to_parquet(
            lineitem.limit(100), f"{tmp_prefix}/stats_tbl", dataset=True,
            mode="overwrite", database="sg_stats", table="li",
        )
        stats = catalog.compute_statistics("sg_stats", "li", columns=["l_quantity"])
        assert int(stats["numRows"]) == 100
        assert int(stats["totalSize"]) > 0
        catalog.delete_database("sg_stats")


# partition values that stress directory escaping and the DDL literal:
# path separators, '=', '%', a space, a single quote, '' and NULL
# (the last two share the default-partition directory on disk)
_ODD_VALUES = ["a/b", "x=y", "p%q", "sp ace", "it's", "", None]


def _odd_frame(spark, values, first_day):
    import datetime

    rows = [
        (i, s, None if s == "p%q" else datetime.date(2024, 1, first_day + i))
        for i, s in enumerate(values)
    ]
    return spark.createDataFrame(rows, "v int, s string, d date")


class TestDatasetWriteRegistration:
    """Dataset writes register only the partitions they wrote, with the
    entries MSCK REPAIR would have made, and leave the table fresh."""

    def test_registered_partitions_match_msck(self, spark, tmp_prefix):
        db, out = "sg_reg_msck", f"{tmp_prefix}/odd"
        writes = [
            ("overwrite", _odd_frame(spark, _ODD_VALUES, 1)),
            # new dates for every value, plus one row into an existing partition
            ("append", _odd_frame(spark, _ODD_VALUES, 10).union(_odd_frame(spark, ["a/b"], 1))),
            ("overwrite_partitions", _odd_frame(spark, _ODD_VALUES[2:], 1)),
        ]
        try:
            for mode, df in writes:
                res = s3.to_parquet(df, out, dataset=True, partition_cols=["s", "d"], mode=mode,
                                    database=db, table="written")
                assert res["partitions_values"]
                catalog.create_table(db, "mirror", out, {"v": "int"},
                                     {"s": "string", "d": "date"}, mode="overwrite")
                catalog.repair_table_partitions(db, "mirror")
                assert catalog.get_partitions(db, "written") == catalog.get_partitions(db, "mirror"), mode
                written = sorted(map(tuple, spark.table(f"{db}.written").collect()), key=repr)
                assert written == sorted(map(tuple, spark.table(f"{db}.mirror").collect()), key=repr)
        finally:
            catalog.delete_database(db)

    def test_append_into_existing_partition_is_fresh(self, spark, tmp_prefix):
        from pyspark.sql import functions as F

        db = "sg_reg_fresh"

        def count(sql):
            return athena.read_sql_query(sql, database=db).collect()[0]["n"]

        def month(m, n):
            return spark.range(n).select(F.lit(m).alias("m"), "id")

        try:
            s3.to_parquet(month("a", 5).union(month("b", 5)), f"{tmp_prefix}/p", dataset=True,
                          partition_cols=["m"], database=db, table="p")
            s3.to_parquet(spark.range(5), f"{tmp_prefix}/np", dataset=True, database=db, table="np")
            assert count("SELECT count(*) AS n FROM p WHERE m = 'a'") == 5
            assert count("SELECT count(*) AS n FROM np") == 5
            # no repair call between the append and the query; the
            # non-partitioned table runs no ALTER TABLE, so only the
            # write's own refresh keeps it fresh
            s3.to_parquet(month("a", 3), f"{tmp_prefix}/p", dataset=True,
                          partition_cols=["m"], database=db, table="p")
            s3.to_parquet(spark.range(7), f"{tmp_prefix}/np", dataset=True, database=db, table="np")
            assert count("SELECT count(*) AS n FROM p WHERE m = 'a'") == 8
            assert count("SELECT count(*) AS n FROM np") == 12
        finally:
            catalog.delete_database(db)
            spark.catalog.setCurrentDatabase("default")

    def test_zero_row_write_returns_promptly(self, spark, tmp_prefix):
        import threading

        empty = _odd_frame(spark, _ODD_VALUES, 1).limit(0)
        box = {}
        worker = threading.Thread(
            target=lambda: box.update(res=s3.to_parquet(
                empty, f"{tmp_prefix}/empty", dataset=True, partition_cols=["s", "d"],
                database="sg_reg_empty", table="t")),
            daemon=True,
        )
        try:
            worker.start()
            worker.join(timeout=120)
            assert not worker.is_alive(), "zero-row write blocked waiting on its observation"
            assert box["res"]["partitions_values"] == {}
            assert catalog.get_partitions("sg_reg_empty", "t") == {}
        finally:
            catalog.delete_database("sg_reg_empty")

    def test_append_returns_only_touched_partitions(self, spark, lineitem, tmp_prefix):
        from pyspark.sql import functions as F

        out = f"{tmp_prefix}/li"
        first = s3.to_parquet(lineitem, out, dataset=True, partition_cols=["l_returnflag"])
        assert sorted(v for v, in first["partitions_values"].values()) == ["A", "N", "R"]
        res = s3.to_parquet(lineitem.filter(F.col("l_returnflag") == "R"), out, dataset=True,
                            partition_cols=["l_returnflag"], mode="append")
        assert list(res["partitions_values"].values()) == [["R"]]
        assert res["paths"] and all("/l_returnflag=R/" in p for p in res["paths"])

    def test_each_write_is_one_spark_job(self, spark, tmp_prefix):
        # 40 monthly appends take the table past the 32-directory point
        # where listing it would fan out as Spark jobs; the write's own
        # job must stay the only one
        from pyspark.sql import functions as F

        sc = spark.sparkContext
        jobs = []
        try:
            for m in range(40):
                df = spark.range(10).select(F.lit(f"2020-{m:02d}").alias("month"), "id")
                sc.setJobGroup(f"sg-write-{m}", "to_parquet job count")
                s3.to_parquet(df, f"{tmp_prefix}/months", dataset=True, partition_cols=["month"],
                              database="sg_reg_jobs", table="t")
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"sg-write-{m}")))
        finally:
            sc.setJobGroup(None, None)
            catalog.delete_database("sg_reg_jobs")
        assert jobs == [1] * 40, jobs
        assert len(s3.list_directories(f"{tmp_prefix}/months")) == 40
