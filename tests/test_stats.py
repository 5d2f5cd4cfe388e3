"""sources/stats.py — catalog statistics + CBO activation.

The stats layer is the 100 TB join-order story (ANALYZE once at ingest,
CBO reorders from row/NDV estimates at any scale), so pin its contract:
routing through catalog.load_table, statistics actually recorded, CBO
confs on, and a clean catalog.reset.
"""

from __future__ import annotations

import pytest

from rust_query_engine_greatest_spark.sources import catalog, stats


@pytest.fixture()
def stats_active(spark, sf_dir):
    prep = stats.activate(spark, sf_dir, tables=("nation", "region", "supplier"))
    yield prep
    catalog.reset(spark, sf_dir)


def _stat(sf_dir, name):
    r = catalog.route(sf_dir, name)
    return r.stat if r else None


def test_activate_routes_load_table_and_sets_cbo(spark, sf_dir, stats_active):
    tbl = _stat(sf_dir, "nation")
    assert tbl is not None and tbl.startswith("stat_")
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    assert spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "true"
    df = catalog.load_table(spark, sf_dir, "nation")
    # routed to the catalog table, same rows as the raw read
    assert tbl in df._jdf.queryExecution().analyzed().toString()
    assert df.count() == spark.read.parquet(f"{sf_dir}/nation.parquet").count()


def test_analyze_records_row_counts(spark, sf_dir, stats_active):
    tbl = _stat(sf_dir, "supplier")
    desc = {r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()}
    st = desc.get("Statistics", "")
    assert "rows" in st, f"no row-count statistics recorded: {st!r}"


def test_activate_is_idempotent_and_deactivate_restores(spark, sf_dir):
    stats.activate(spark, sf_dir, tables=("region",))
    first = _stat(sf_dir, "region")
    # second activation must reuse the analyzed table: spy that no
    # CREATE/ANALYZE SQL runs (behavioral, not a wall-clock bound)
    ran = []
    real_sql = spark.sql
    spark.sql = lambda q, *a, **k: (ran.append(q), real_sql(q, *a, **k))[1]
    try:
        stats.activate(spark, sf_dir, tables=("region",))
    finally:
        del spark.sql  # restore the bound method
    assert _stat(sf_dir, "region") == first
    assert not [q for q in ran
                if "ANALYZE" in q.upper() or "CREATE" in q.upper()], ran
    catalog.reset(spark, sf_dir)
    assert catalog.route(sf_dir, "region") is None
    # load_table falls back to the raw parquet read
    df = catalog.load_table(spark, sf_dir, "region")
    assert "stat_" not in df._jdf.queryExecution().analyzed().toString()


def test_unactivated_tables_unrouted(spark, sf_dir, stats_active):
    # events is deliberately excluded (ns->us conversion lives in
    # load_table); it must never route through a catalog table
    assert catalog.route(sf_dir, "events") is None


def test_scoped_deactivate_keeps_cbo_for_other_dir(spark, sf_dir, tmp_path):
    """ADVICE r8: catalog.reset(spark, sf_dir) must not unset the
    session-wide CBO confs while ANOTHER sf_dir's stat_ routing is
    still active."""
    import shutil

    other = tmp_path / "other_sf"
    other.mkdir()
    shutil.copy(f"{sf_dir}/region.parquet", other / "region.parquet")
    stats.activate(spark, sf_dir, tables=("region",))
    stats.activate(spark, str(other), tables=("region",))
    try:
        catalog.reset(spark, sf_dir)
        assert catalog.route(sf_dir, "region") is None
        assert _stat(str(other), "region") is not None
        assert spark.conf.get("spark.sql.cbo.enabled") == "true", \
            "scoped deactivate stripped CBO from the still-active dir"
        catalog.reset(spark, str(other))
        assert spark.conf.get("spark.sql.cbo.enabled") == "false"
    finally:
        catalog.reset(spark)


def test_deactivate_with_spark_restores_confs_and_drops(spark, sf_dir):
    """catalog.reset restores the CBO confs and drops the route; the
    catalog table itself stays (metadata over the external parquet)."""
    stats.activate(spark, sf_dir, tables=("region",))
    tbl = _stat(sf_dir, "region")
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    catalog.reset(spark, sf_dir)
    assert spark.conf.get("spark.sql.cbo.enabled") == "false"  # default
    assert catalog.route(sf_dir, "region") is None
    assert spark.catalog.tableExists(tbl)


def test_activate_pipeline_documents_embeddings_events(spark, sf_dir):
    """VERDICT r7 #3: the pipeline side gets stats too — documents and
    embeddings always; events only from a compacted (post-conversion)
    copy, and the routed schema keeps the instant timestamp type."""
    from pyspark.sql import types as T

    from rust_query_engine_greatest_spark.sources import compact

    stats.activate_pipeline(spark, sf_dir)
    try:
        assert _stat(sf_dir, "documents") is not None
        assert _stat(sf_dir, "embeddings") is not None
        # no compaction -> raw events may be NTZ/ns: never registered
        assert catalog.route(sf_dir, "events") is None
        compact.activate(spark, sf_dir)
        stats.activate_pipeline(spark, sf_dir)
        ev = _stat(sf_dir, "events")
        assert ev is not None
        ts_type = catalog.load_table(spark, sf_dir, "events") \
            .schema["ts"].dataType
        assert isinstance(ts_type, T.TimestampType)
    finally:
        catalog.reset(spark, sf_dir)


def test_stats_tag_tracks_compacted_root(spark, sf_dir):
    """ADVICE r7: compaction activated AFTER a stats pass must not be
    satisfied by the stale stat_ table pointing at the raw path — the
    table tag folds the resolved parquet path."""
    from rust_query_engine_greatest_spark.sources import compact

    stats.activate(spark, sf_dir, tables=("nation",))
    raw_tbl = _stat(sf_dir, "nation")
    compact.activate(spark, sf_dir)
    try:
        stats.activate(spark, sf_dir, tables=("nation",))
        new_tbl = _stat(sf_dir, "nation")
        assert new_tbl != raw_tbl
        loc = [r["data_type"] for r in
               spark.sql(f"DESCRIBE TABLE EXTENDED {new_tbl}").collect()
               if r["col_name"] == "Location"]
        assert loc and "compacted" in loc[0]
    finally:
        catalog.reset(spark, sf_dir)


def test_ntz_column_stats_matcherror_pin(spark):
    """Pins the upstream Spark 4.1 bug that _statable_columns works
    around (BENCH_NOTES r8): CBO + COLUMN statistics on a TIMESTAMP_NTZ
    column + a filtered JOIN (join planning invokes FilterEstimation;
    a bare filter does not) -> scala.MatchError at OPTIMIZATION time.
    When a future Spark fixes FilterEstimation, the first assertion
    fails -> the removal condition: drop the NTZ exclusion in
    stats._statable_columns and re-A/B the events/pipeline section.
    The second half asserts the WORKAROUND: the same query succeeds
    when ts is left out of the ANALYZE column list."""
    saved = {k: spark.conf.get(k, None) for k in stats.CBO_CONFS}
    for k, v in stats.CBO_CONFS.items():
        spark.conf.set(k, v)
    q = ("SELECT count(*) FROM {t} a JOIN {t} b ON a.v = b.v "
         "WHERE a.ts > TIMESTAMP_NTZ'2024-01-02 00:00:00' AND b.v < 50")
    try:
        for tbl, cols, ok in (("ntz_pin_bug", "ts, v", False),
                              ("ntz_pin_fix", "v", True)):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(f"CREATE TABLE {tbl} (ts TIMESTAMP_NTZ, v BIGINT) "
                      f"USING parquet")
            spark.sql(f"INSERT INTO {tbl} SELECT timestampadd(HOUR, "
                      f"CAST(id AS INT), TIMESTAMP_NTZ'2024-01-01 "
                      f"00:00:00'), id FROM range(100)")
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
                      f"FOR COLUMNS {cols}")
            if ok:
                # ts > Jan 2 00:00 ⇒ v ≥ 25; with v < 50 ⇒ 25 rows
                assert spark.sql(q.format(t=tbl)).collect()[0][0] == 25
            else:
                with pytest.raises(Exception, match="MatchError|INTERNAL_ERROR"):
                    spark.sql(q.format(t=tbl)).collect()
    finally:
        for tbl in ("ntz_pin_bug", "ntz_pin_fix"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
