"""The crawl checkpoint's log-structured stores (plans/crawl.DeltaStore):
one crash/resume contract, checked against each configured store —
live robots (ungated), fetch validators and media-seen (both gated on
the manifest) — plus the url hash helpers every bucket and salt uses."""

import pytest
from pyspark.sql import functions as F

from img_spark import fsio
from img_spark.operators.politeness import robots_df
from img_spark.operators.urlexprs import batch_buckets, url_bucket, url_hash
from img_spark.plans.crawl import CrawlConfig, Crawler, DeltaStore
from img_spark.sources.site_config import rows_from_config
from img_spark.sources.synthweb import FIXTURE_CONFIG, PAGES_DDL

# one delta's rows per store, in the shape each store's writer appends
ROWS = {
    "_robots_store": (
        [("h.test", "/", True, 0.0, 1.0)],
        "host string, path_prefix string, allow boolean,"
        " crawl_delay double, fetched_at double",
    ),
    "_validators": (
        [("https://h.test/1", "h.test", 0, "00000000", '"e1"', None,
          1.0, 60.0)],
        "url string, host string, depth int, path string, etag string,"
        " last_modified string, fetched_at double, interval_s double",
    ),
    "_media_seen": ([("https://h.test/1.jpg",)], "url string"),
}


def _store(spark, tmp_path, name) -> DeltaStore:
    """The store as a Crawler with every store-backed feature
    configures it."""
    c = Crawler(
        spark,
        spark.createDataFrame([], PAGES_DDL),
        rows_from_config(FIXTURE_CONFIG),
        robots_df(spark, []),
        CrawlConfig(
            checkpoint_dir=str(tmp_path / "ck"), fetch_mode="http",
            live_robots=True, revisit_after_s=60.0,
            media_dir=str(tmp_path / "media"),
        ),
    )
    return getattr(c, name)


def _restart(st: DeltaStore) -> DeltaStore:
    """The same store as a fresh process sees it (nothing committed
    in memory)."""
    return DeltaStore(
        st.spark, st.base, st.ddl, st.reduce, st.buckets, st.manifest_key
    )


def _idx(st: DeltaStore) -> list:
    return [i for i, _ in st.dirs()]


@pytest.mark.parametrize("name", list(ROWS))
def test_delta_store_crash_resume_contract(spark, tmp_path, name):
    st = _store(spark, tmp_path, name)
    gated = st.manifest_key is not None
    assert gated == (name != "_robots_store")
    key = st.manifest_key
    rows = spark.createDataFrame(*ROWS[name])

    # generation 0 commits one delta; its manifest records the floor
    i0 = st.append(rows)
    st.committed = i0
    m0 = {key: i0} if gated else {}

    # a crashed step: delta written, manifest never committed — hidden
    # from a gated store and deleted by resume; robots keeps it
    i1 = st.append(rows)
    assert _idx(st) == ([i0] if gated else [i0, i1])
    st = _restart(st)
    st.resume(iter([m0]))
    assert fsio.isdir(fsio.join(st.base, f"d{i1}")) == (not gated)
    assert _idx(st) == ([i0] if gated else [i0, i1])

    # generation 1 commits a delta, then a compaction runs after its
    # manifest: the fold postdates every recorded floor but survives
    # resume and stays visible, and the live set is unchanged
    i2 = st.append(rows)
    st.committed = i2
    m1 = {key: i2} if gated else {}
    live_before = sorted(map(tuple, st.live().collect()))
    assert st.compact()
    (ic,) = _idx(st)
    assert ic > i2
    st = _restart(st)
    st.resume(iter([m1, m0]))
    assert _idx(st) == [ic]
    assert sorted(map(tuple, st.live().collect())) == live_before

    # a later run without the feature wrote manifests lacking the key:
    # the floor walks back to the newest manifest that has it
    i3 = st.append(rows)
    st.committed = i3
    st = _restart(st)
    st.resume(iter([{}, {}, {key: i3} if gated else {}, m1]))
    assert _idx(st) == [ic, i3]
    if gated:
        assert st.committed == i3
        # no manifest ever recorded the key: every uncompacted delta is
        # a crashed first attempt's orphan
        st = _restart(st)
        st.resume(iter([{}, {}]))
        assert st.committed == -1
        assert _idx(st) == [ic]
        assert not fsio.isdir(fsio.join(st.base, f"d{i3}"))


def test_url_bucket_helpers_keep_site_types(spark):
    """Salts stay long (url_bucket), stored buckets cast to int, and a
    batch's bucket list is exactly the distinct buckets of its rows —
    all from the one url_hash."""
    urls = [f"https://h{i % 3}.test/p/{i}" for i in range(40)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        "url",
        url_hash(F.col("url")).alias("h"),
        url_bucket(F.col("url"), 7).alias("salt"),
        url_bucket(F.col("url"), 7).cast("int").alias("vb"),
    )
    types = dict(out.dtypes)
    assert [types[c] for c in ("h", "salt", "vb")] == [
        "bigint", "bigint", "int",
    ]
    rows = out.collect()
    assert all(r["salt"] == r["h"] % 7 == r["vb"] for r in rows)
    assert sorted(batch_buckets(df, "url", 7)) == sorted(
        {r["vb"] for r in rows}
    )
