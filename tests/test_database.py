"""Database API tests — CRUD, introspection, DML, measurement handles.

Dual-backend parity (Memory vs Parquet vs CSV) mirrors the reference's
fixture strategy (reference tests/conftest.py:8-59,
tests/test_storages.py:452-570).
"""

from datetime import datetime, timedelta, timezone

import pytest

from tinyflux_spark import (
    CSVStorage,
    FieldQuery,
    MeasurementQuery,
    MemoryStorage,
    Point,
    TagQuery,
    TimeQuery,
    TinyFluxSpark,
)

T0 = datetime(2020, 1, 1, tzinfo=timezone.utc)


def mk_points():
    return [
        Point(time=T0 + timedelta(hours=i),
              measurement="weather" if i % 2 == 0 else "cpu",
              tags={"city": ["LA", "SF", None][i % 3]},
              fields={"temp": float(60 + i), "i": float(i)})
        for i in range(12)
    ]


@pytest.fixture(params=["memory", "parquet", "csv"])
def db(request, spark, tmp_path):
    if request.param == "memory":
        d = TinyFluxSpark(storage=MemoryStorage, spark=spark)
    elif request.param == "csv":
        d = TinyFluxSpark(str(tmp_path / "db.csv"), storage=CSVStorage, spark=spark)
    else:
        d = TinyFluxSpark(str(tmp_path / "pq"), spark=spark)
    d.insert_multiple(mk_points())
    return d


def test_len_and_all(db):
    assert len(db) == 12
    pts = db.all()
    assert len(pts) == 12
    times = [p.time for p in pts]
    assert times == sorted(times)


def test_iter_insertion_order(db):
    pts = list(db)
    assert [p.fields["i"] for p in pts] == [float(i) for i in range(12)]


def test_search_and_count(db):
    q = FieldQuery().temp >= 66
    got = db.search(q)
    assert len(got) == 6
    assert db.count(q) == 6
    assert db.contains(q)
    assert not db.contains(FieldQuery().temp > 1000)


def test_search_compound(db):
    q = (TagQuery().city == "LA") & (MeasurementQuery() == "weather")
    got = db.search(q)
    assert all(
        p.tags["city"] == "LA" and p.measurement == "weather" for p in got
    )
    assert len(got) == 2  # i in {0, 6}


def test_get_first_by_insertion_order(db):
    p = db.get(FieldQuery().temp >= 66)
    assert p is not None and p.fields["i"] == 6.0


def test_get_none_when_no_match(db):
    assert db.get(FieldQuery().temp > 1000) is None


def test_select(db):
    rows = db.select(("time", "tags.city", "fields.temp"), TimeQuery() >= T0)
    assert len(rows) == 12
    assert rows[0][1] == "LA" and rows[0][2] == 60.0
    scalars = db.select("fields.temp", MeasurementQuery() == "cpu")
    assert scalars == [61.0, 63.0, 65.0, 67.0, 69.0, 71.0]
    # missing key resolves to None (reference database.py:830-974)
    nones = db.select("fields.absent", MeasurementQuery() == "cpu")
    assert nones == [None] * 6


def test_introspection(db):
    assert db.get_measurements() == ["cpu", "weather"]
    assert db.get_field_keys() == ["i", "temp"]
    assert db.get_tag_keys() == ["city"]
    tv = db.get_tag_values()
    assert tv == {"city": [None, "LA", "SF"]}
    assert db.get_field_values("temp")[:3] == [60.0, 61.0, 62.0]
    ts = db.get_timestamps()
    assert len(ts) == 12 and ts[0] == T0
    assert all(t.tzinfo is not None for t in ts)


def test_measurement_handle(db):
    m = db.measurement("weather")
    assert len(m) == 6
    assert m.get_field_keys() == ["i", "temp"]
    got = m.search(FieldQuery().temp >= 60)
    assert len(got) == 6
    assert all(p.measurement == "weather" for p in got)
    assert db.measurement("weather") is m  # cached handle


def test_insert_stamps_time(db):
    n = len(db)
    db.insert(Point(fields={"x": 1.0}, _now_if_empty=False))
    assert len(db) == n + 1
    p = db.get(FieldQuery().x.exists())
    assert p.time is not None


def test_update_constant_fields(db):
    n = db.update(TagQuery().city == "LA", fields={"flag": 1.0})
    assert n == 4
    assert db.count(FieldQuery().flag == 1) == 4


def test_update_merges_tags(db):
    n = db.update(MeasurementQuery() == "cpu", tags={"dc": "west"})
    assert n == 6
    got = db.search(TagQuery().dc == "west")
    assert len(got) == 6
    assert all("city" in p.tags for p in got)  # merge, not replace


def test_update_callable(db):
    # Callable returns ONLY the touched key: result must MERGE into the
    # existing field set (reference database.py:1195-1206), and the
    # callable must never see non-matching rows (the "disk" point lacks
    # "temp" and would KeyError).
    db.insert(
        Point(time=T0, measurement="disk", fields={"free": 1.0})
    )
    n = db.update(
        MeasurementQuery() == "weather",
        fields=lambda f: {"temp": f["temp"] + 100},
    )
    assert n == 6
    assert db.count(FieldQuery().temp >= 160) == 6
    for p in db.search(MeasurementQuery() == "weather"):
        assert set(p.fields) >= {"temp"}


def test_update_unset(db):
    db.update(TimeQuery().noop(), unset_fields=["i"])
    assert db.get_field_keys() == ["temp"]


def test_update_returns_changed_count(db):
    # setting temp to its current value changes nothing
    p = db.all()[0]
    n = db.update(FieldQuery().i == 0, fields={"temp": p.fields["temp"]})
    assert n == 0


def test_update_all(db):
    n = db.update_all(tags={"global": "yes"})
    assert n == 12
    assert db.count(TagQuery()["global"] == "yes") == 12


def test_remove(db):
    n = db.remove(FieldQuery().i < 4)
    assert n == 4
    assert len(db) == 8
    # insertion order survives the rewrite
    assert [p.fields["i"] for p in db] == [float(i) for i in range(4, 12)]


def test_remove_scoped_to_measurement(db):
    n = db.remove(FieldQuery().i >= 0, measurement="cpu")
    assert n == 6
    assert db.get_measurements() == ["weather"]


def test_remove_all(db):
    db.remove_all()
    assert len(db) == 0


def test_drop_measurement(db):
    n = db.drop_measurement("cpu")
    assert n == 6
    assert db.get_measurements() == ["weather"]
    assert len(db) == 6


def test_update_time(db):
    t_new = datetime(2030, 1, 1, tzinfo=timezone.utc)
    n = db.update(FieldQuery().i == 0, time=t_new)
    assert n == 1
    assert db.count(TimeQuery() >= t_new) == 1


def test_dml_rewrite_is_partition_scoped(spark, tmp_path):
    """A time-bounded remove must physically rewrite ONLY the date
    partitions its predicate touches — out-of-scope parquet files keep
    their inodes (the 100 TB 'delete one day, touch one directory'
    property)."""
    import os

    path = str(tmp_path / "scoped")
    d = TinyFluxSpark(path, spark=spark)
    d.insert_multiple(
        Point(
            time=datetime(2020, 1, 1 + day, hour, tzinfo=timezone.utc),
            measurement="m",
            fields={"v": float(day * 24 + hour)},
        )
        for day in range(3)
        for hour in range(4)
    )

    def inodes(day):
        # resolve through the live version dir: untouched partitions
        # carry over as hardlinks, so their inodes survive the version
        # flip while rewritten ones get fresh files.
        pdir = os.path.join(
            d.storage.data_dir, "measurement=m", f"pdate=2020-01-0{day}"
        )
        return {
            f: os.stat(os.path.join(pdir, f)).st_ino
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        }

    before_d1, before_d3 = inodes(1), inodes(3)
    n = d.remove(
        (TimeQuery() >= datetime(2020, 1, 2, tzinfo=timezone.utc))
        & (TimeQuery() < datetime(2020, 1, 3, tzinfo=timezone.utc))
        & (FieldQuery().v >= 26.0)
    )
    assert n == 2  # hours 2,3 of day 2
    assert len(d) == 10
    # day-2 partition rewritten; days 1 and 3 physically untouched
    assert inodes(1) == before_d1
    assert inodes(3) == before_d3


def test_update_time_scoped_but_correct_across_dates(spark, tmp_path):
    """update(time=...) may move rows across date partitions, so date
    scoping must be disabled — the moved row lands in its new
    partition and the old one shrinks."""
    path = str(tmp_path / "movetime")
    d = TinyFluxSpark(path, spark=spark)
    d.insert_multiple(
        Point(
            time=datetime(2020, 1, 1 + day, tzinfo=timezone.utc),
            measurement="m",
            fields={"v": float(day)},
        )
        for day in range(2)
    )
    t_new = datetime(2021, 6, 1, tzinfo=timezone.utc)
    n = d.update(FieldQuery().v == 0.0, time=t_new)
    assert n == 1
    assert d.count(TimeQuery() >= t_new) == 1
    assert len(d) == 2


def test_compact_key_prefixes_round_trip(spark, tmp_path):
    """insert(compact_key_prefixes=True) writes t_/f_ prefixed keys to
    CSV and reads back identically (reference database.py:600-621,
    point.py:106-107)."""
    path = str(tmp_path / "compact.csv")
    d = TinyFluxSpark(path, storage=CSVStorage, spark=spark)
    p = Point(time=T0, measurement="m", tags={"city": "LA"},
              fields={"temp": 70.5})
    d.insert(p, compact_key_prefixes=True)
    with open(path) as f:
        raw = f.read()
    assert "t_city" in raw and "f_temp" in raw
    assert "_tag_" not in raw and "_field_" not in raw
    got = d.all()
    assert len(got) == 1
    assert got[0].tags == {"city": "LA"}
    assert got[0].fields == {"temp": 70.5}


def test_drop_measurement_hive_escaped_name(spark, tmp_path):
    """Measurement names containing hive-special chars (':' etc.) are
    percent-escaped by Spark in partition dir names; drop_measurement
    and scoped DML must hit the real directory."""
    path = str(tmp_path / "esc")
    d = TinyFluxSpark(path, spark=spark)
    weird = "a:b/c d"
    d.insert_multiple(
        [
            Point(time=T0, measurement=weird, fields={"v": 1.0}),
            Point(time=T0, measurement="plain", fields={"v": 2.0}),
        ]
    )
    assert len(d) == 2
    n = d.drop_measurement(weird)
    assert n == 1
    assert len(d) == 1
    assert d.get_measurements() == ["plain"]


def test_scoped_remove_escaped_measurement(spark, tmp_path):
    """A remove that empties an escaped-name partition must delete the
    directory, not leave stale rows behind."""
    path = str(tmp_path / "esc2")
    d = TinyFluxSpark(path, spark=spark)
    weird = "x=y#z"
    d.insert_multiple(
        [
            Point(time=T0, measurement=weird, fields={"v": 1.0}),
            Point(time=T0, measurement="keep", fields={"v": 2.0}),
        ]
    )
    n = d.remove(MeasurementQuery() == weird)
    assert n == 1
    assert len(d) == 1
    assert d.count(MeasurementQuery() == weird) == 0


def test_compact_merges_files_preserves_order(spark, tmp_path):
    """Repeated appends fragment partitions into one file each;
    compact() rewrites to one file per (measurement, date) dir with
    rows, insertion order (_seq) and values intact."""
    path = str(tmp_path / "frag")
    d = TinyFluxSpark(path, spark=spark, index_tags=["city"])
    for batch in range(4):
        d.insert_multiple(
            Point(time=T0, measurement="m",
                  tags={"city": f"c{batch}"},
                  fields={"v": float(batch * 10 + i)})
            for i in range(3)
        )
    before_points = d.all(sorted=False)
    assert d.storage.parquet_file_count() == 4
    eliminated = d.compact()
    assert eliminated == 3
    assert d.storage.parquet_file_count() == 1
    after_points = d.all(sorted=False)
    assert [(p.tags, p.fields) for p in before_points] == [
        (p.tags, p.fields) for p in after_points
    ]
    # indexed path still works post-compact
    assert d.count(TagQuery().city == "c2") == 3
    # scoped compact of an untouched measurement is a no-op
    assert d.compact("nope") == 0


def test_bulk_append_df_one_file_per_partition(spark, tmp_path):
    """The clustered bulk-write path emits one file per partition dir
    even from a multi-partition source frame."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "bulk")
    d = TinyFluxSpark(path, spark=spark)
    src = (
        spark.range(0, 1000, 1, 8)
        .select(
            (F.lit(T0) + F.make_interval(hours=F.col("id") % 48))
            .alias("time"),
            F.concat(F.lit("m"), F.col("id") % 2).alias("measurement"),
            F.create_map(F.lit("u"), (F.col("id") % 5).cast("string"))
            .alias("tags"),
            F.create_map(F.lit("v"), F.col("id").cast("double"))
            .alias("fields"),
        )
    )
    d.insert_dataframe(src)
    assert len(d) == 1000
    # 2 measurements x 2 dates = 4 partition dirs, one file each
    assert d.storage.parquet_file_count() == 4


def test_index_config_durable_and_guarded(spark, tmp_path):
    """index_tags/index_fields persist in the manifest: a bare reopen
    replays them; a conflicting constructor argument is an error (a
    reindex is a rewrite, not a flag flip)."""
    path = str(tmp_path / "idx")
    d = TinyFluxSpark(path, spark=spark, index_tags=["city"])
    d.insert(Point(time=T0, measurement="m", tags={"city": "LA"},
                   fields={"v": 1.0}))
    d2 = TinyFluxSpark(path, spark=spark)
    assert ("tags", "city") in d2.storage.index_cols
    assert d2.count(TagQuery().city == "LA") == 1
    with pytest.raises(ValueError):
        TinyFluxSpark(path, spark=spark, index_tags=["other"])
    with pytest.raises(ValueError):
        TinyFluxSpark(str(tmp_path / "bad"), spark=spark,
                      index_tags=["no spaces allowed"])
    # index config is a parquet feature — loudly, not silently, so
    with pytest.raises(ValueError):
        TinyFluxSpark(storage=MemoryStorage, spark=spark,
                      index_tags=["city"])
    with pytest.raises(ValueError):
        TinyFluxSpark(str(tmp_path / "x.csv"), storage=CSVStorage,
                      spark=spark, index_fields=["v"])


def test_index_cols_follow_dml(spark, tmp_path):
    """update() rewrites must re-derive the scalar columns from the
    mutated maps — a stale _tag_* would silently corrupt every later
    indexed query."""
    path = str(tmp_path / "idxdml")
    d = TinyFluxSpark(path, spark=spark, index_tags=["city"],
                      index_fields=["v"])
    d.insert_multiple([
        Point(time=T0, measurement="m", tags={"city": "LA"},
              fields={"v": 1.0}),
        Point(time=T0, measurement="m", tags={"city": "SF"},
              fields={"v": 2.0}),
    ])
    assert d.update(TagQuery().city == "LA", tags={"city": "NY"}) == 1
    assert d.count(TagQuery().city == "NY") == 1
    assert d.count(TagQuery().city == "LA") == 0
    assert d.update(FieldQuery().v == 2.0, fields={"v": 5.0}) == 1
    assert d.count(FieldQuery().v > 4) == 1
    assert d.remove(TagQuery().city == "NY") == 1
    assert len(d) == 1
    # unset of an indexed tag nulls the scalar too
    assert d.update_all(unset_tags=["city"]) == 1
    assert d.count(TagQuery().city.exists()) == 0
    assert d.count(TagQuery().city == "SF") == 0


def test_update_merge_no_session_dedup_policy(spark):
    """Right-biased tag/field merge must not depend on the session's
    mapKeyDedupPolicy (EXCEPTION is Spark's default)."""
    prev = spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    try:
        d = TinyFluxSpark(storage=MemoryStorage, spark=spark)
        d.insert(Point(time=T0, measurement="m", tags={"a": "old"},
                       fields={"v": 1.0}))
        n = d.update(MeasurementQuery() == "m",
                     tags={"a": "new", "b": "x"}, fields={"v": 2.0})
        assert n == 1
        p = d.all()[0]
        assert p.tags == {"a": "new", "b": "x"}
        assert p.fields == {"v": 2.0}
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)


def test_concurrent_handles_disjoint_seq(spark, tmp_path):
    """Two handles on one store path appending concurrently mint
    disjoint _seq ranges and lose no rows (the manifest bump and the
    staged swap are flock-serialized; the reference is single-process
    by design so this is an extension guarantee)."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "mw")
    a = TinyFluxSpark(path, spark=spark)
    b = TinyFluxSpark(path, spark=spark)

    def writer(db, base):
        for i in range(8):
            db.insert_multiple([
                Point(
                    time=T0 + timedelta(minutes=base * 1000 + i * 10 + j),
                    measurement="m",
                    fields={"v": float(base * 1000 + i * 10 + j)},
                )
                for j in range(5)
            ])
        return True

    with ThreadPoolExecutor(2) as ex:
        fa = ex.submit(writer, a, 0)
        fb = ex.submit(writer, b, 1)
        assert fa.result() and fb.result()

    assert len(a) == 80
    seqs = [
        r["_seq"]
        for r in a.dataframe(with_seq=True).select("_seq").collect()
    ]
    assert len(seqs) == 80
    assert len(set(seqs)) == 80, "duplicate _seq minted by racing handles"
    # values are unique too (no lost/duplicated batch)
    vals = sorted(
        p.fields["v"] for p in a.all(sorted=False)
    )
    assert len(set(vals)) == 80


def test_sql_surface_sees_live_writes(spark):
    import datetime as dt

    from tinyflux_spark import Point, TinyFluxSpark

    with TinyFluxSpark(spark=spark) as db:
        t = dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc)
        db.insert_multiple(
            Point(time=t, measurement="m", tags={"s": str(i % 2)},
                  fields={"v": float(i)})
            for i in range(6)
        )
        rows = db.sql(
            "SELECT tags['s'] AS s, SUM(fields['v']) AS total "
            "FROM points GROUP BY 1 ORDER BY 1"
        ).collect()
        assert [(r["s"], r["total"]) for r in rows] == [("0", 6.0), ("1", 9.0)]
        # a later write is visible without re-registering anything
        db.insert(Point(time=t, measurement="m", tags={"s": "0"},
                        fields={"v": 100.0}))
        total = db.sql("SELECT SUM(fields['v']) AS t FROM points").collect()
        assert total[0]["t"] == 115.0
        # custom view name doesn't clobber the default
        n = db.sql("SELECT COUNT(*) AS c FROM pts", view="pts").collect()
        assert n[0]["c"] == 7


def _mk_downsample_store(spark, tmp_path, storage=None):
    import datetime as dt

    from tinyflux_spark import Point, TinyFluxSpark

    if storage is None:
        db = TinyFluxSpark(str(tmp_path / "ds"), spark=spark)
    else:
        db = TinyFluxSpark(spark=spark, storage=storage)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pts = []
    # day 1: sensor a gets 4 points per hour-bucket 0 and 1; sensor b 2.
    for h, vals in [(0, [10.0, 20.0]), (1, [30.0, 50.0])]:
        for i, v in enumerate(vals):
            pts.append(Point(time=t0 + dt.timedelta(hours=h, minutes=10 * (i + 1)),
                             measurement="temp", tags={"s": "a"},
                             fields={"v": v, "hum": v / 10}))
            pts.append(Point(time=t0 + dt.timedelta(hours=h, minutes=10 * (i + 1)),
                             measurement="temp", tags={"s": "b"},
                             fields={"v": v + 1}))
    # day 3: recent points that must survive untouched
    recent = t0 + dt.timedelta(days=2)
    pts.append(Point(time=recent, measurement="temp", tags={"s": "a"},
                     fields={"v": 99.0}))
    db.insert_multiple(pts)
    return db, t0, recent


def test_downsample_parquet(spark, tmp_path):
    import datetime as dt

    from tinyflux_spark import TagQuery, TimeQuery

    db, t0, recent = _mk_downsample_store(spark, tmp_path)
    cutoff = t0 + dt.timedelta(days=1)
    replaced = db.downsample(cutoff, interval_sec=3600)
    assert replaced == 8
    # 2 hour-buckets x 2 tag sets -> 4 rollup points + 1 recent raw
    assert len(db) == 5
    a = db.search(TagQuery().s == "a")
    by_time = {p.time: p for p in a if p.time < cutoff}
    assert by_time[t0].fields == {"hum": 1.5, "v": 15.0}
    assert by_time[t0 + dt.timedelta(hours=1)].fields == {"hum": 4.0, "v": 40.0}
    b = [p for p in db.search(TagQuery().s == "b") if p.time < cutoff]
    assert sorted(p.fields["v"] for p in b) == [16.0, 41.0]
    # tag sets survive exactly; recent point untouched
    assert all(p.tags == {"s": "a"} for p in a)
    raw = db.search(TimeQuery() >= cutoff)
    assert len(raw) == 1 and raw[0].fields == {"v": 99.0}
    db.close()


def test_downsample_memory_and_validation(spark):
    import datetime as dt

    import pytest as _pytest

    from tinyflux_spark.storages import MemoryStorage

    db, t0, recent = _mk_downsample_store(
        spark, None, storage=MemoryStorage(spark)
    )
    with _pytest.raises(ValueError):
        db.downsample(dt.datetime(2024, 1, 2), 3600)  # naive cutoff
    with _pytest.raises(ValueError):
        db.downsample(recent, 3600, agg="median")
    cutoff = t0 + dt.timedelta(days=1)
    assert db.downsample(cutoff, interval_sec=3600, agg="max") == 8
    assert len(db) == 5
    vals = sorted(
        p.fields["v"] for p in db.all() if p.time < cutoff
    )
    assert vals == [20.0, 21.0, 50.0, 51.0]
    # no-op on already-downsampled range at same granularity is stable
    assert db.downsample(cutoff, interval_sec=3600, agg="max") == 4
    assert len(db) == 5


def test_downsample_measurement_scoped(spark, tmp_path):
    import datetime as dt

    from tinyflux_spark import Point, TinyFluxSpark

    db = TinyFluxSpark(str(tmp_path / "ds_m"), spark=spark)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pts = []
    for m in ("temp", "cpu"):
        for i in range(4):
            pts.append(Point(time=t0 + dt.timedelta(minutes=10 * i),
                             measurement=m, tags={},
                             fields={"v": float(i)}))
    db.insert_multiple(pts)
    replaced = db.measurement("temp").downsample(
        t0 + dt.timedelta(days=1), interval_sec=3600
    )
    assert replaced == 4
    assert len(db.measurement("temp")) == 1
    assert db.measurement("temp").all()[0].fields == {"v": 1.5}
    # the other measurement is untouched, raw points intact
    cpu = db.measurement("cpu").all()
    assert sorted(p.fields["v"] for p in cpu) == [0.0, 1.0, 2.0, 3.0]
    db.close()


def test_from_table_connector(spark, tmp_path):
    import datetime as dt

    from tinyflux_spark import TinyFluxSpark
    from tinyflux_spark.sources import from_table, read_table
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [
            ("2024-02-01 10:00:00", "nyc", 21.5, None),
            ("2024-02-01 11:00:00", "sfo", 18.0, 3.0),
        ],
        ["when", "city", "temp", "wind"],
    )
    pts = from_table(
        src,
        "when",
        measurement="weather",
        tag_cols=["city"],
        field_cols=["temp", "wind"],
        field_map={"temp_f": F.col("temp") * 9 / 5 + 32},
    )
    assert pts.columns == ["time", "measurement", "tags", "fields"]
    rows = sorted(pts.collect(), key=lambda r: r["time"])
    assert rows[0]["measurement"] == "weather"
    assert rows[0]["tags"] == {"city": "nyc"}
    # null field VALUE survives as a present key with None
    assert rows[0]["fields"] == {"temp": 21.5, "temp_f": 70.7, "wind": None}
    # a mapped frame inserts directly
    db = TinyFluxSpark(str(tmp_path / "conn"), spark=spark)
    db.insert_dataframe(pts)
    assert len(db) == 2
    db.close()

    # per-row measurement from a column + default measurement
    pm = from_table(src, "when", measurement=F.col("city"))
    assert {r["measurement"] for r in pm.collect()} == {"nyc", "sfo"}
    dm = from_table(src, "when")
    assert {r["measurement"] for r in dm.collect()} == {"_default"}
    assert dm.collect()[0]["tags"] == {}

    # read_table round-trips a CSV interchange file
    p = str(tmp_path / "interchange.csv")
    src.write.option("header", "true").mode("overwrite").csv(p)
    back = read_table(spark, p, fmt="csv")
    assert back.count() == 2 and "temp" in back.columns


def test_snapshot_isolation_across_destructive_ops(spark, tmp_path):
    """A DataFrame planned before a destructive op keeps reading its
    own version snapshot: the previous version dir survives one flip
    (GC keeps current + previous), so in-flight scans don't break or
    see half-applied rewrites."""
    import os

    from tinyflux_spark import FieldQuery

    path = str(tmp_path / "mvcc")
    d = TinyFluxSpark(path, spark=spark)
    d.insert_multiple(
        Point(time=datetime(2020, 1, 1, h, tzinfo=timezone.utc),
              measurement="m", fields={"v": float(h)})
        for h in range(10)
    )
    snapshot = d.dataframe()          # plans against version N's path
    assert snapshot.count() == 10
    assert d.remove(FieldQuery().v >= 5.0) == 5
    # live store sees the delete; the pre-delete plan still sees 10
    assert len(d) == 5
    assert snapshot.count() == 10
    versions = sorted(
        n for n in os.listdir(path) if n.startswith("data_v")
    )
    assert len(versions) == 2
    # a second destructive op GCs the oldest version
    d.update(FieldQuery().v == 0.0, fields={"v": 100.0})
    versions = sorted(
        n for n in os.listdir(path) if n.startswith("data_v")
    )
    assert len(versions) == 2
    assert len(d) == 5
    d.close()


def test_legacy_unversioned_store_migrates(spark, tmp_path):
    """A store written before data versioning (live dir named "data",
    manifest without data_version) opens transparently: the legacy dir
    becomes version 0 and all operations proceed."""
    import json
    import os
    import shutil

    path = str(tmp_path / "legacy")
    d = TinyFluxSpark(path, spark=spark)
    d.insert_multiple(
        Point(time=datetime(2020, 1, 1, h, tzinfo=timezone.utc),
              measurement="m", fields={"v": float(h)})
        for h in range(4)
    )
    d.close()
    # demote to the pre-versioning layout
    meta_path = os.path.join(path, "_tinyflux_meta.json")
    meta = json.load(open(meta_path))
    v = meta.pop("data_version")
    json.dump(meta, open(meta_path, "w"))
    shutil.move(
        os.path.join(path, f"data_v{v:06d}"), os.path.join(path, "data")
    )
    d2 = TinyFluxSpark(path, spark=spark)
    assert len(d2) == 4
    assert d2.remove(FieldQuery().v >= 2.0) == 2
    assert len(d2) == 2
    assert not os.path.exists(os.path.join(path, "data"))
    d2.close()


def test_concurrent_reads_never_see_partial_rewrites(spark, tmp_path):
    """MVCC invariant under live contention: while one thread rewrites
    the store repeatedly (full-width updates), concurrent readers must
    always observe a complete snapshot — the full row count, never a
    state with some partitions swapped and others missing (the failure
    mode of in-place directory swaps)."""
    import threading

    path = str(tmp_path / "stress")
    d = TinyFluxSpark(path, spark=spark)
    N_ROWS = 60
    d.insert_multiple(
        Point(time=datetime(2020, 1, 1 + (i % 3), i % 24,
                            tzinfo=timezone.utc),
              measurement="m", fields={"v": float(i)})
        for i in range(N_ROWS)
    )

    stop = threading.Event()
    bad = []

    def reader():
        while not stop.is_set():
            try:
                n = d.dataframe().count()
            except Exception as e:  # noqa: BLE001 — the failure signal
                bad.append(repr(e))
                return
            if n != N_ROWS:
                bad.append(f"saw {n} rows")
                return

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for i in range(5):
            d.update_all(fields={"flag": float(i)})
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not bad, bad
    assert d.count(FieldQuery().flag == 4.0) == N_ROWS
    d.close()


def test_time_travel_versions(spark, tmp_path):
    """keep_versions retains MVCC snapshots for point-in-time reads:
    each destructive op creates a new version; dataframe(version=N)
    reads the historical state; GC trims to the retention depth."""
    path = str(tmp_path / "tt")
    d = TinyFluxSpark(path, spark=spark, keep_versions=4)
    d.insert_multiple(
        Point(time=datetime(2020, 1, 1, h, tzinfo=timezone.utc),
              measurement="m", fields={"v": float(h)})
        for h in range(6)
    )
    v0 = d.versions()[-1]
    d.remove(FieldQuery().v >= 4.0)          # -> v0+1 (4 rows)
    d.update_all(fields={"v": 0.0})          # -> v0+2
    assert d.versions() == [v0, v0 + 1, v0 + 2]
    assert d.dataframe(version=v0).count() == 6
    assert d.dataframe(version=v0 + 1).count() == 4
    old_vals = {
        r["fields"]["v"] for r in d.dataframe(version=v0 + 1).collect()
    }
    assert old_vals == {0.0, 1.0, 2.0, 3.0}
    assert {r["fields"]["v"] for r in d.dataframe().collect()} == {0.0}
    # one more op GCs the oldest (depth 4: keeps v0+1..v0+3... still 4)
    d.update_all(fields={"v": 9.0})
    assert d.versions() == [v0, v0 + 1, v0 + 2, v0 + 3]
    d.update_all(fields={"v": 8.0})
    assert d.versions() == [v0 + 1, v0 + 2, v0 + 3, v0 + 4]
    with pytest.raises(ValueError):
        d.dataframe(version=v0)
    d.close()


def test_version_diff_cdc(spark, tmp_path):
    """db.diff(v_old, v_new) is the CDC view of the versioned layout:
    an update is one 'changed' row under its durable _seq (never a
    remove+add pair), a remove is 'removed' with the old payload, an
    insert after v_old is 'added', unchanged rows are absent, and
    diff of a version against itself is empty."""
    path = str(tmp_path / "cdc")
    d = TinyFluxSpark(path, spark=spark, keep_versions=6)
    d.insert_multiple(
        Point(time=datetime(2020, 1, 1, h, tzinfo=timezone.utc),
              measurement="m", tags={"h": str(h)}, fields={"v": float(h)})
        for h in range(4)
    )
    v0 = d.versions()[-1]
    d.update(FieldQuery().v == 2.0, fields={"v": 20.0})
    d.remove(FieldQuery().v == 3.0)
    d.insert(
        Point(time=datetime(2020, 1, 2, tzinfo=timezone.utc),
              measurement="m", tags={"h": "new"}, fields={"v": 9.0})
    )
    out = {
        (r["op"], r["tags"]["h"]): r["fields"]["v"]
        for r in d.diff(v0).collect()
    }
    assert out == {
        ("changed", "2"): 20.0,   # new payload
        ("removed", "3"): 3.0,    # old payload
        ("added", "new"): 9.0,
    }
    assert d.diff(v0, v0).count() == 0
    # explicit two-version form: v0 -> v0+1 sees only the update
    ops = {r["op"] for r in d.diff(v0, v0 + 1).collect()}
    assert ops == {"changed"}
    d.close()


def test_keep_versions_rejected_off_parquet(spark):
    with pytest.raises(ValueError):
        TinyFluxSpark(spark=spark, keep_versions=3)


def test_downsample_csv_storage(spark, tmp_path):
    import datetime as dt

    db, t0, recent = _mk_downsample_store(
        spark, None,
        storage=CSVStorage(str(tmp_path / "ds.csv"), spark),
    )
    cutoff = t0 + dt.timedelta(days=1)
    assert db.downsample(cutoff, interval_sec=3600) == 8
    assert len(db) == 5
    vals = sorted(p.fields["v"] for p in db.all() if p.time < cutoff)
    assert vals == [15.0, 16.0, 40.0, 41.0]
    raw = [p for p in db.all() if p.time >= cutoff]
    assert len(raw) == 1 and raw[0].fields["v"] == 99.0


def test_search_arrow_serving_format(spark, tmp_path):
    import pyarrow as pa

    path = str(tmp_path / "arrow_srv")
    d = TinyFluxSpark(path, spark=spark)
    d.insert_multiple(mk_points())
    batches = d.search_arrow(FieldQuery().temp >= 66)
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    tbl = pa.Table.from_batches(batches)
    assert tbl.num_rows == 6
    assert set(tbl.column_names) == {"time", "measurement", "tags", "fields"}
    temps = [dict(f)["temp"] for f in tbl.column("fields").to_pylist()]
    assert all(t >= 66 for t in temps)
    d.close()


def test_driver_ordered_reads_match_spark_order(spark, tmp_path):
    """search/search_arrow/all sort on the driver; their rows must come
    back in search_df's Spark order (time, then insertion order; or
    insertion order alone) on a store whose equal timestamps are split
    across insert batches and files, and whose file order is not time
    order."""
    import pyarrow as pa

    d = TinyFluxSpark(str(tmp_path / "order"), spark=spark)
    batches = [[30, 2, 2, 7], [2, 26, 1, 30], [7, 2, 0, 26], [1, 30, 2, 2]]
    hours = [h for b in batches for h in b]
    i = 0
    for b in batches:
        pts = []
        for h in b:
            pts.append(Point(time=T0 + timedelta(hours=h),
                             measurement="ab"[i % 2],
                             tags={"n": str(i)}, fields={"i": float(i)}))
            i += 1
        d.insert_multiple(pts)
    assert d.storage.parquet_file_count() > len(batches)

    def spark_ids(df):
        return [r["fields"]["i"] for r in df.collect()]

    def point_ids(points):
        return [p.fields["i"] for p in points]

    def arrow_ids(rbs):
        tbl = pa.Table.from_batches(rbs)
        return [dict(f)["i"] for f in tbl.column("fields").to_pylist()]

    q = FieldQuery().i >= 1
    everything = TimeQuery().noop()
    a = d.measurement("a")
    for srt in (True, False):
        want = spark_ids(d.search_df(q, sorted=srt))
        order = sorted(range(1, i), key=lambda j: (hours[j], j) if srt else j)
        assert want == [float(j) for j in order]
        got = d.search(q, sorted=srt)
        assert point_ids(got) == want
        assert [p.time for p in got] == [
            T0 + timedelta(hours=hours[j]) for j in order]
        assert arrow_ids(d.search_arrow(q, sorted=srt)) == want
        assert point_ids(d.all(sorted=srt)) == spark_ids(
            d.search_df(everything, sorted=srt))
        assert point_ids(a.search(q, sorted=srt)) == spark_ids(
            a.search_df(q, sorted=srt))
        assert point_ids(a.all(sorted=srt)) == spark_ids(
            a.search_df(everything, sorted=srt))
    none = FieldQuery().i > 1000
    assert d.search(none) == [] and d.search(none, sorted=False) == []
    assert d.search_arrow(none) == []
    assert a.search(none) == [] and d.measurement("zz").all() == []
    d.close()


def test_legacy_store_rejects_new_index_config(spark, tmp_path):
    """A pre-index-era manifest means 'no index columns': opening it
    WITH an index request must raise (the columns don't exist in the
    legacy parquet — accepting would silently match nothing)."""
    import json
    import os

    path = str(tmp_path / "legacy_idx")
    d = TinyFluxSpark(path, spark=spark)
    d.insert(Point(time=T0, measurement="m", tags={"user": "u1"},
                   fields={"v": 1.0}))
    d.close()
    meta_path = os.path.join(path, "_tinyflux_meta.json")
    meta = json.load(open(meta_path))
    meta.pop("index_tags"), meta.pop("index_fields")
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(ValueError, match="reindexing requires a rewrite"):
        TinyFluxSpark(path, spark=spark, index_tags=["user"])
    # no-index open still works and still finds the row
    d2 = TinyFluxSpark(path, spark=spark)
    assert len(d2.search(TagQuery().user == "u1")) == 1
    d2.close()


def test_truncate_clears_stale_uncommitted_version(spark, tmp_path):
    """A crash mid-clone can leave a partial data_v{N+1} on disk;
    truncate must not resurrect it as the 'empty' store."""
    import os

    from tinyflux_spark.storages import _vdir

    path = str(tmp_path / "stale")
    d = TinyFluxSpark(path, spark=spark)
    d.insert(Point(time=T0, measurement="m", fields={"v": 1.0}))
    st = d.storage
    # simulate the crashed clone
    leftover = st._clone_version()
    assert os.path.isdir(leftover)
    d.remove_all()
    assert len(d) == 0
    d.insert(Point(time=T0, measurement="m", fields={"v": 2.0}))
    assert [p.fields["v"] for p in d.all()] == [2.0]
    d.close()


def test_late_append_preserved_across_rewrite(spark, tmp_path):
    """An append that publishes while a rewrite's staged write runs
    must survive the version flip: the rewrite commits its transformed
    rows PLUS the late file (rewrite-then-append linearization), never
    silently dropping the append."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "late")
    d = TinyFluxSpark(path, spark=spark)
    d.insert_multiple(
        Point(time=datetime(2020, 1, 1, h, tzinfo=timezone.utc),
              measurement="m", fields={"v": float(h)})
        for h in range(6)
    )
    st = d.storage
    # snapshot + source plan as they exist when a rewrite begins
    known = st._parquet_relpaths(st.data_dir)
    keep = st.read().where(F.col("fields")["v"] < 3.0)
    # a concurrent append publishes mid-rewrite
    d.insert(Point(time=datetime(2020, 1, 2, tzinfo=timezone.utc),
                   measurement="m", fields={"v": 99.0}))
    # full-path rewrite (the worst case: stage replaces everything)
    st.overwrite(keep, known_files=known)
    vals = sorted(p.fields["v"] for p in d.all())
    assert vals == [0.0, 1.0, 2.0, 99.0]

    # scoped-path variant: rewrite one date partition while a late
    # append lands in that same partition
    known2 = st._parquet_relpaths(st.data_dir)
    keep2 = (
        st.read()
        .where(F.col("pdate") == "2020-01-01")
        .where(F.col("fields")["v"] >= 2.0)
    )
    d.insert(Point(time=datetime(2020, 1, 1, 23, tzinfo=timezone.utc),
                   measurement="m", fields={"v": 50.0}))
    st.overwrite(
        keep2, date_range=("2020-01-01", "2020-01-01"), known_files=known2
    )
    vals = sorted(p.fields["v"] for p in d.all())
    assert vals == [2.0, 50.0, 99.0]
    d.close()


def test_empty_measurement_round_trips(spark, tmp_path):
    """A "" measurement lives in Spark's default partition directory and
    reads back as "", not NULL, through every call that names it."""
    import os

    d = TinyFluxSpark(str(tmp_path / "empty_m"), spark=spark)
    d.insert_multiple([
        Point(time=T0 + timedelta(hours=h), measurement=m,
              fields={"v": float(h)})
        for h, m in enumerate(["", "x", "", "x", ""])
    ])
    st = d.storage
    assert os.path.isdir(
        os.path.join(st.data_dir, "measurement=__HIVE_DEFAULT_PARTITION__"))
    assert d.get_measurements() == ["", "x"]
    got = d.search(MeasurementQuery() == "")
    assert [(p.measurement, p.fields["v"]) for p in got] == [
        ("", 0.0), ("", 2.0), ("", 4.0)]
    assert [p.measurement for p in d.all()] == ["", "x", "", "x", ""]
    assert d.remove(FieldQuery().v == 2.0, measurement="") == 1
    d.insert_multiple([Point(time=T0, measurement="", fields={"v": 9.0})])
    assert st.parquet_file_count("") == 2
    assert d.compact("") == 1
    assert st.parquet_file_count("") == 1
    assert sorted(p.fields["v"] for p in d.search(
        MeasurementQuery() == "")) == [0.0, 4.0, 9.0]
    assert d.drop_measurement("") == 3
    assert d.get_measurements() == ["x"] and len(d) == 2
    d.close()


# One row per case the two writers must encode alike:
# (measurement, time, tags, fields).
_WRITER_CASES = [
    ("m", datetime(2020, 1, 1, 23, 59, 59, 999999, tzinfo=timezone.utc),
     {"sensor": "s1", "city": "LA"}, {"v": 1.0, "w": 2.5}),   # plain
    ("m", datetime(2020, 1, 2, tzinfo=timezone.utc),
     {"sensor": "s1", "city": None}, {"v": None, "w": 3.0}),  # None values
    ("m", datetime(2020, 1, 2, tzinfo=timezone.utc),
     {}, {}),                                                 # empty maps
    ("a:b/c%", datetime(2020, 1, 1, 23, 59, 59, 999999, tzinfo=timezone.utc),
     {"sensor": "s2"}, {"v": 7}),                             # escaped name
    ("", datetime(2020, 1, 2, tzinfo=timezone.utc),
     {"city": "SF"}, {"w": -1.0}),                            # "" measurement
    ("", datetime(2020, 1, 1, 23, 59, 59, 999999, tzinfo=timezone.utc),
     {"sensor": None}, {"v": 0.0}),                           # unindexed None
]


def test_driver_writer_matches_spark_writer(spark, tmp_path):
    """insert_multiple (parquet written on the driver) and
    insert_dataframe (parquet written by Spark) of the same Points give
    the same answers, before and after a compact over mixed files."""
    import os

    from tinyflux_spark.schema import points_to_df

    pts = [Point(time=t, measurement=m, tags=tg, fields=fl)
           for m, t, tg, fl in _WRITER_CASES]
    kw = dict(spark=spark, index_tags=["sensor"], index_fields=["v"])
    by_spark = TinyFluxSpark(str(tmp_path / "spark_w"), **kw)
    by_driver = TinyFluxSpark(str(tmp_path / "driver_w"), **kw)
    by_spark.insert_dataframe(points_to_df(spark, pts))
    by_driver.insert_multiple(pts)

    # one file per (measurement, pdate) of the batch
    groups = {(m, t.date()) for m, t, _, _ in _WRITER_CASES}
    assert by_driver.storage.parquet_file_count() == len(groups) == 5
    assert not [n for n in os.listdir(by_driver.storage.path)
                if n.startswith("_append_")]

    def arrow_rows(batches):
        return [
            (r["time"], r["measurement"], dict(r["tags"]), dict(r["fields"]))
            for b in batches for r in b.to_pylist()
        ]

    queries = [
        TimeQuery().noop(),
        TagQuery().sensor == "s1",                 # indexed tag
        TagQuery().city == "LA",                   # map tag
        FieldQuery().v >= 1,                       # indexed field
        MeasurementQuery() == "",
        (TimeQuery() >= datetime(2020, 1, 2, tzinfo=timezone.utc))
        & (FieldQuery().w < 3.5),                  # pdate + map field
    ]

    def answers(d):
        out = [
            d.get_measurements(), d.get_tag_values(),
            d.search(queries[0], sorted=False),
            d.select(["time", "measurement", "tags.sensor", "fields.v"],
                     queries[0]),
            d.get(queries[1]), d.get(queries[4]),
            d.count(queries[1]), d.count(queries[3]),
        ]
        for q in queries:
            out += [d.search(q), arrow_rows(d.search_arrow(q))]
        return out

    assert answers(by_driver) == answers(by_spark)
    assert by_driver.get_measurements() == ["", "a:b/c%", "m"]

    # Append each store's second batch through the other writer, so both
    # hold files of both kinds, then compact.
    more = [Point(time=datetime(2020, 1, 2, 1, tzinfo=timezone.utc),
                  measurement="m", tags={"sensor": "s1"},
                  fields={"v": 5.0})]
    by_spark.insert_multiple(more)
    by_driver.insert_dataframe(points_to_df(spark, more))
    for d in (by_spark, by_driver):
        d.compact()
        assert d.storage.parquet_file_count() == 5
    assert answers(by_driver) == answers(by_spark)
    by_spark.close()
    by_driver.close()


def test_failed_flush_leaves_store_unchanged(spark, tmp_path, monkeypatch):
    """A write that fails part-way through a multi-file batch publishes
    nothing and leaves no stage directory; the next insert works."""
    import os

    import pyarrow.parquet as pq

    d = TinyFluxSpark(str(tmp_path / "crash"), spark=spark)
    d.insert_multiple(mk_points()[:4])
    before = d.all()
    real_write, calls = pq.write_table, []

    def failing_write(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("disk full")
        return real_write(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", failing_write)
    with pytest.raises(OSError, match="disk full"):
        d.insert_multiple([
            Point(time=T0, measurement="weather", fields={"temp": 1.0}),
            Point(time=T0, measurement="cpu", fields={"temp": 2.0}),
        ])
    assert len(calls) == 2
    monkeypatch.undo()
    assert d.all() == before
    assert not [n for n in os.listdir(d.storage.path)
                if n.startswith("_append_")]
    d.insert(Point(time=T0, measurement="cpu", fields={"temp": 3.0}))
    assert len(d) == 5
    assert d.get(FieldQuery().temp == 3.0).measurement == "cpu"
    d.close()
