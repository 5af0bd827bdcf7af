"""S16 — custom Python DataSource over WARC packfiles: byte-exact
round trip, index-level filter pushdown, partition pruning."""

import hashlib

import pytest

from lectura.synth import SynthParams
from lectura.synth_spark import materialize_corpus_warc, pages_df
from lectura.warcsource import WarcDataSource, WarcReader


@pytest.fixture(scope="module")
def warc_corpus(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("warcsrc")
    p = SynthParams(n_urls=120, n_hosts=6)
    meta, _, _ = materialize_corpus_warc(spark, p, str(tmp / "warc"),
                                         parallelism=3)
    meta.write.parquet(str(tmp / "index"))
    spark.dataSource.register(WarcDataSource)
    return p, str(tmp / "index")


def test_warc_source_roundtrip_byte_exact(spark, warc_corpus):
    """The custom source must return the exact bytes the writer packed
    (sha-compared against the html-layout generator) with the full
    (url, warc_ts, lang, html) schema and tz-faithful timestamps."""
    p, index = warc_corpus
    df = spark.read.format("lectura_warc").option("index", index).load()
    assert df.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,lang:string,html:binary>")
    got = {r.url: (hashlib.sha256(r.html).hexdigest(), r.warc_ts, r.lang)
           for r in df.collect()}
    want = {r.url: (hashlib.sha256(r.html).hexdigest(), r.warc_ts,
                    r.lang)
            for r in pages_df(spark, p).collect()}
    assert got == want and len(got) > 100


def test_warc_source_filter_pushdown_prunes_index(spark, warc_corpus):
    """EqualTo/In on lang or url prune index rows driver-side (and can
    drop whole packfiles from the partition list); unsupported filters
    are handed back to Spark; pushed + residual evaluation yields the
    same rows as the unpushed plan."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    p, index = warc_corpus
    rdr = WarcReader({"index": index})
    rest = rdr.pushFilters([EqualTo(("lang",), "de"),
                            GreaterThan(("warc_ts",), 0)])
    assert [type(f).__name__ for f in rest] == ["GreaterThan"]
    total = sum(len(s.rows) for s in WarcReader({"index": index})
                .partitions())
    pruned = sum(len(s.rows) for s in rdr.partitions())
    assert 0 < pruned < total

    one_url = WarcReader({"index": index})
    df = spark.read.format("lectura_warc").option("index", index).load()
    some_url = df.take(1)[0].url
    one_url.pushFilters([In(("url",), (some_url,))])
    parts = one_url.partitions()
    assert sum(len(s.rows) for s in parts) == 1
    assert len(parts) == 1  # every other packfile dropped, never opened

    # end-to-end: a pushed lang filter returns exactly the lang subset
    en = df.filter(df.lang == "en")
    want = {r.url for r in df.collect() if r.lang == "en"}
    assert {r.url for r in en.collect()} == want and want


def test_warc_source_requires_index_option(spark, warc_corpus):
    with pytest.raises(Exception, match="index"):
        spark.read.format("lectura_warc").load().collect()


def test_warc_writer_roundtrip_and_commit_protocol(spark, tmp_path):
    """df.write.format('lectura_warc') → packfiles + committed index:
    read-back is byte-exact; the manifest counts every row; the staging
    dir drains at commit (only driver-promoted parts are readable)."""
    import datetime as dt
    import json
    import os

    spark.dataSource.register(WarcDataSource)
    rows = [(f"http://h{i % 3}.example/p{i}",
             dt.datetime(2026, 1, 1, i % 24, tzinfo=dt.timezone.utc),
             "en" if i % 4 else "de",
             (f"<html>page {i} " + "x" * (100 + i) + "</html>").encode())
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, html binary"
    ).repartition(4)
    out = str(tmp_path / "out")
    df.write.format("lectura_warc").option("path", out).mode(
        "append").save()

    back = spark.read.format("lectura_warc").option(
        "index", f"{out}/index").load()
    a = {r.url: (hashlib.sha256(r.html).hexdigest(), r.lang, r.warc_ts)
         for r in df.collect()}
    b = {r.url: (hashlib.sha256(r.html).hexdigest(), r.lang, r.warc_ts)
         for r in back.collect()}
    assert a == b and len(b) == 50
    man = json.load(open(f"{out}/_MANIFEST.json"))
    assert man["n_rows"] == 50 and len(man["packfiles"]) == 4
    assert os.listdir(f"{out}/_staging") == []
    # missing path option fails fast
    with pytest.raises(Exception, match="path"):
        df.write.format("lectura_warc").mode("append").save()


def test_warc_source_fully_pruned_filter_returns_zero_rows(spark,
                                                           warc_corpus):
    """A pushed filter that prunes EVERY index row must yield an empty
    result, not crash (pyspark substitutes [None] for an empty
    partition list and calls read(None))."""
    _, index = warc_corpus
    df = spark.read.format("lectura_warc").option("index", index).load()
    assert df.filter(df.lang == "zz").count() == 0
    assert df.filter(df.url == "http://nowhere.example/").count() == 0


def test_warc_written_corpus_is_relocatable(spark, tmp_path):
    """ADVICE r3: the index stores warc_file as a basename and the
    reader resolves it against the table root derived from the index
    location — moving the whole directory must not break reads."""
    import datetime as dt
    import os
    import shutil

    import pyarrow.parquet as pq

    spark.dataSource.register(WarcDataSource)
    rows = [(f"http://h.example/p{i}",
             dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), "en",
             f"<html>reloc {i}</html>".encode()) for i in range(12)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, html binary"
    ).repartition(2)
    out = str(tmp_path / "orig")
    df.write.format("lectura_warc").option("path", out).mode(
        "append").save()
    # the index column itself is relocatable (no path separators)
    part = sorted(os.listdir(f"{out}/index"))[0]
    wf = pq.read_table(f"{out}/index/{part}",
                       columns=["warc_file"]).column(0).to_pylist()
    assert all(os.sep not in v for v in wf)

    moved = str(tmp_path / "moved")
    shutil.move(out, moved)
    back = spark.read.format("lectura_warc").option(
        "index", f"{moved}/index").load()
    got = {r.url: r.html.decode() for r in back.collect()}
    assert got == {u: h.decode() for u, _, _, h in rows}


def test_warc_commit_leaves_other_jobs_staging_alone(spark, tmp_path):
    """commit() sweeps only ITS OWN job's leftover staged parts; a
    concurrent/older job's staging files survive."""
    import datetime as dt
    import os

    spark.dataSource.register(WarcDataSource)
    out = str(tmp_path / "out")
    os.makedirs(f"{out}/_staging")
    stray = f"{out}/_staging/part-otherjob00-00000-1-feed.parquet"
    open(stray, "wb").write(b"not ours")
    rows = [("http://h.example/p0",
             dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), "en",
             b"<html>x</html>")]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, html binary"
    ).write.format("lectura_warc").option("path", out).mode(
        "append").save()
    assert os.path.exists(stray)
    back = spark.read.format("lectura_warc").option(
        "index", f"{out}/index").load()
    assert back.count() == 1


def test_warc_writer_append_and_overwrite_modes(spark, tmp_path):
    """append accumulates (unique per-job part names, manifest totals
    grow); overwrite replaces (old index parts AND packfiles cleared,
    manifest reset) — a re-read sees exactly the expected rows."""
    import datetime as dt
    import json
    import os

    spark.dataSource.register(WarcDataSource)

    def mk(tag, n):
        rows = [(f"http://{tag}.example/p{i}",
                 dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), "en",
                 f"<html>{tag} {i}</html>".encode()) for i in range(n)]
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, lang string, html binary"
        ).repartition(2)

    out = str(tmp_path / "out")
    mk("a", 6).write.format("lectura_warc").option("path", out).mode(
        "append").save()
    mk("b", 4).write.format("lectura_warc").option("path", out).mode(
        "append").save()
    back = spark.read.format("lectura_warc").option(
        "index", f"{out}/index").load()
    urls = {r.url for r in back.collect()}
    assert len(urls) == 10 and any("//a." in u for u in urls)
    assert json.load(open(f"{out}/_MANIFEST.json"))["n_rows"] == 10

    mk("c", 3).write.format("lectura_warc").option("path", out).mode(
        "overwrite").save()
    back2 = spark.read.format("lectura_warc").option(
        "index", f"{out}/index").load()
    assert {r.url for r in back2.collect()} == {
        f"http://c.example/p{i}" for i in range(3)}
    man = json.load(open(f"{out}/_MANIFEST.json"))
    assert man["n_rows"] == 3 and len(man["packfiles"]) == 2
    # overwritten packfiles are gone from disk, not just unreachable
    segs = [f for f in os.listdir(out) if f.startswith("seg-")]
    assert len(segs) == 2


def test_warc_root_option_overrides_derived_location(spark, tmp_path):
    """ADVICE r4: an index parquet copied OUTSIDE the standard
    <root>/index/ layout derives the wrong packfile root and every read
    fails; .option('root', dir) must override the derivation."""
    import datetime as dt
    import os
    import shutil

    spark.dataSource.register(WarcDataSource)
    rows = [(f"http://h.example/r{i}",
             dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), "en",
             f"<html>rooted {i}</html>".encode()) for i in range(6)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, html binary"
    ).repartition(1)
    out = str(tmp_path / "corpus")
    df.write.format("lectura_warc").option("path", out).mode(
        "append").save()

    # copy the index part to a flat side location (not <root>/index/)
    side = tmp_path / "sidecopy"
    side.mkdir()
    for f in os.listdir(f"{out}/index"):
        shutil.copy(f"{out}/index/{f}", side / f)

    # without the override the derived root is wrong → read fails
    import pytest as _pytest

    broken = spark.read.format("lectura_warc").option(
        "index", str(side)).load()
    with _pytest.raises(Exception):
        broken.collect()

    back = spark.read.format("lectura_warc").option(
        "index", str(side)).option("root", out).load()
    got = {r.url: r.html.decode() for r in back.collect()}
    assert got == {u: h.decode() for u, _, _, h in rows}
