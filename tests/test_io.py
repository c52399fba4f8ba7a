"""IO round-trip tests (reference: SURVEY.md §2.1 sources/sinks)."""

from __future__ import annotations

import pandas as pd
import pytest

from dask_expr_spark import from_dict, from_pandas, read_csv, read_json, read_parquet, timeseries
from dask_expr_spark.sources.io import load_tables


def test_parquet_roundtrip(spark, tmp_path):
    pdf = pd.DataFrame({"a": range(50), "b": [f"s{i}" for i in range(50)]})
    df = from_pandas(spark, pdf, npartitions=3)
    out = str(tmp_path / "rt.parquet")
    df.to_parquet(out)
    back = read_parquet(spark, out).compute().sort_values("a").reset_index(drop=True)
    pd.testing.assert_frame_equal(back, pdf, check_dtype=False)


def test_parquet_column_and_filter_args(spark, sf_dir):
    df = read_parquet(spark, f"{sf_dir}/orders.parquet",
                      columns=["o_orderkey", "o_totalprice"],
                      filters="o_totalprice > 100000")
    pdf = df.compute()
    assert list(pdf.columns) == ["o_orderkey", "o_totalprice"]
    assert (pdf.o_totalprice > 100000).all()


def test_csv_roundtrip(spark, tmp_path):
    pdf = pd.DataFrame({"x": range(20), "y": [i * 0.5 for i in range(20)]})
    df = from_pandas(spark, pdf)
    out = str(tmp_path / "rt_csv")
    df.to_spark().write.option("header", True).csv(out)
    back = read_csv(spark, out).compute().sort_values("x").reset_index(drop=True)
    pd.testing.assert_frame_equal(back, pdf, check_dtype=False)


def test_json_roundtrip(spark, tmp_path):
    pdf = pd.DataFrame({"k": ["a", "b", "c"], "v": [1, 2, 3]})
    df = from_pandas(spark, pdf)
    out = str(tmp_path / "rt_json")
    df.to_spark().write.json(out)
    back = read_json(spark, out).compute().sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(back[["k", "v"]], pdf, check_dtype=False)


def test_from_dict(spark):
    df = from_dict(spark, {"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert len(df) == 3


def test_load_tables(spark, sf_dir):
    tables = load_tables(spark, sf_dir)
    assert set(tables) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert tables["nation"].count().compute() == 25


def test_timeseries_deterministic_under_projection(spark):
    """the reference's key Timeseries property (datasets.py:171-176):
    values don't change when a column subset is selected."""
    full = timeseries(spark, "2000-01-01", "2000-01-02", freq_seconds=60).compute()
    proj = timeseries(spark, "2000-01-01", "2000-01-02", freq_seconds=60)[["timestamp", "x"]].compute()
    assert len(full) == 24 * 60
    pd.testing.assert_series_equal(full["x"], proj["x"])
    again = timeseries(spark, "2000-01-01", "2000-01-02", freq_seconds=60).compute()
    pd.testing.assert_frame_equal(full, again)


def test_orc_roundtrip(spark, tmp_path):
    from dask_expr_spark import read_orc
    pdf = pd.DataFrame({"a": range(30), "b": [i * 1.5 for i in range(30)]})
    df = from_pandas(spark, pdf)
    out = str(tmp_path / "rt_orc")
    df.to_orc(out)  # writer (reference io/orc.py:61)
    back = read_orc(spark, out).compute().sort_values("a").reset_index(drop=True)
    pd.testing.assert_frame_equal(back, pdf, check_dtype=False)


def test_from_map(spark):
    import pandas as pd
    from dask_expr_spark.sources.io import from_map
    df = from_map(
        spark,
        lambda d: pd.DataFrame({"d": [d] * 3, "v": range(3)}),
        ["2024-01-01", "2024-01-02"],
        "d string, v long",
    )
    got = df.compute().sort_values(["d", "v"]).reset_index(drop=True)
    assert len(got) == 6
    assert list(got["d"].unique()) == ["2024-01-01", "2024-01-02"]


def test_merge_recursive(spark, sf_dir):
    from dask_expr_spark.operators.merge import merge_recursive
    from dask_expr_spark.sources.io import read_parquet
    c = read_parquet(spark, f"{sf_dir}/customer.parquet")
    n = read_parquet(spark, f"{sf_dir}/nation.parquet")
    r = read_parquet(spark, f"{sf_dir}/region.parquet")
    out = merge_recursive([
        c[["c_custkey", "c_nationkey"]].rename(columns={"c_nationkey": "n_nationkey"}),
        n[["n_nationkey", "n_regionkey"]].rename(columns={"n_regionkey": "r_regionkey"}),
        r[["r_regionkey", "r_name"]],
    ])
    got = out.compute()
    assert len(got) == len(c.compute())
    assert "r_name" in got.columns
    # star-schema fold keeps the dims broadcast — no shuffle of the fact side
    plan = out.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_read_table_and_fwf(spark, tmp_path):
    """read_table (tab-delimited) and read_fwf (fixed-width substring
    slicing) — reference io parity (_collection.py:5092)."""
    from dask_expr_spark.sources.io import read_fwf, read_table

    tsv = tmp_path / "t.tsv"
    tsv.write_text("a\tb\n1\tx\n2\ty\n")
    df = read_table(spark, str(tsv))
    got = df.compute().sort_values("a").reset_index(drop=True)
    assert list(got["a"]) == [1, 2] and list(got["b"]) == ["x", "y"]

    fwf = tmp_path / "f.txt"
    fwf.write_text("12345ab\n67890cd\n")
    df2 = read_fwf(spark, str(fwf), widths=[5, 2], names=["num", "code"])
    got2 = df2.compute().sort_values("num").reset_index(drop=True)
    assert list(got2["num"]) == ["12345", "67890"]
    assert list(got2["code"]) == ["ab", "cd"]


def test_series_rolling(spark):
    import pandas as pd
    from dask_expr_spark.sources.io import from_pandas

    pdf = pd.DataFrame({"t": range(8), "v": [1.0, 2, 3, 4, 5, 6, 7, 8]})
    s = from_pandas(spark, pdf).set_index("t")["v"]
    got = s.rolling(3).mean(["v"]).compute()["v_rmean"]
    want = pdf.set_index("t")["v"].rolling(3).mean()
    assert got.fillna(-1).tolist() == want.fillna(-1).tolist()


def test_jdbc_roundtrip_derby(spark):
    """read_jdbc/to_sql against the Derby jar Spark bundles for its
    metastore (in-memory DB, embedded driver — single-JVM local mode,
    which is exactly where this test runs)."""
    from dask_expr_spark.sources.io import read_jdbc

    url = "jdbc:derby:memory:dx_jdbc_test;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    pdf = pd.DataFrame({"k": list(range(20)), "v": [i * 1.5 for i in range(20)]})
    df = from_pandas(spark, pdf)
    df.to_sql("roundtrip", url, mode="overwrite", **drv)
    back = read_jdbc(spark, url, "roundtrip", **drv).compute()
    back = back.sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(back, pdf, check_dtype=False)

    # partitioned read path (partitionColumn pruning contract)
    part = read_jdbc(
        spark, url, "roundtrip", partition_column="k",
        num_partitions=4, lower_bound=0, upper_bound=20, **drv,
    )
    assert part.to_spark().rdd.getNumPartitions() == 4
    assert sorted(r.k for r in part.to_spark().collect()) == list(range(20))


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 built-in XML datasource (extension format)."""
    from dask_expr_spark import read_xml
    pdf = pd.DataFrame({"a": range(10), "b": [f"v{i}" for i in range(10)]})
    df = from_pandas(spark, pdf)
    out = str(tmp_path / "rt_xml")
    df.to_xml(out, row_tag="rec", root_tag="recs")
    back = (read_xml(spark, out, row_tag="rec").compute()
            .sort_values("a").reset_index(drop=True))
    pd.testing.assert_frame_equal(back[["a", "b"]], pdf, check_dtype=False)


def test_read_text_and_binary_files(spark, tmp_path):
    """raw text + binaryFile ingestion (the multimodal/corpus entry
    points; binaryFile metadata-only reads prune `content`)."""
    from dask_expr_spark import read_binary_files, read_text

    (tmp_path / "a.txt").write_text("hello\nworld\n")
    (tmp_path / "b.txt").write_text("spark\n")
    txt = read_text(spark, str(tmp_path / "*.txt")).compute()
    assert sorted(txt["value"]) == ["hello", "spark", "world"]

    whole = read_text(spark, str(tmp_path / "a.txt"), whole_text=True).compute()
    assert list(whole["value"]) == ["hello\nworld\n"]

    (tmp_path / "img1.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "img2.bin").write_bytes(b"\xff" * 10)
    bf = read_binary_files(spark, str(tmp_path), glob="*.bin")
    got = {r["path"].split("/")[-1]: r for r in bf.to_spark().collect()}
    assert got["img1.bin"]["length"] == 3
    assert bytes(got["img2.bin"]["content"]) == b"\xff" * 10
    # metadata-only projection prunes content from the scan
    plan = (bf.to_spark().select("path", "length")
            ._jdf.queryExecution().executedPlan().toString())
    assert "content" not in plan.split("ReadSchema")[-1][:200]


def test_read_csv_names_usecols(spark, tmp_path):
    """reference: io/tests/test_io.py:103,111 — pandas-compat names=
    (positional rename) and usecols= (int or name selection)."""
    import pandas as pd

    import dask_expr_spark as dx
    pd.DataFrame({"a": [1, 2], "b": [3, 4], "c": [5, 6]}).to_csv(
        tmp_path / "f.csv", index=False, header=False)
    df = dx.read_csv(spark, str(tmp_path / "f.csv"), header=False,
                     names=["x", "y", "z"], usecols=[0, 1])
    got = df.compute().sort_values("x").reset_index(drop=True)
    assert list(got.columns) == ["x", "y"] and got["y"].tolist() == [3, 4]
    df2 = dx.read_csv(spark, str(tmp_path / "f.csv"), header=False,
                      names=["x", "y", "z"], usecols=["z"])
    assert df2.compute()["z"].tolist() == [5, 6]


def test_read_parquet_tuple_filters(spark, sf_dir):
    """reference: read_parquet filters kwarg (io/parquet.py) — tuple
    conjunction and DNF list-of-lists, pushed into the scan."""
    import duckdb

    import dask_expr_spark as dx
    df = dx.read_parquet(spark, f"{sf_dir}/orders.parquet",
                         filters=[("o_orderstatus", "==", "F"),
                                  ("o_totalprice", ">", 100000)])
    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/orders.parquet') "
        f"WHERE o_orderstatus = 'F' AND o_totalprice > 100000").fetchone()[0]
    assert len(df.to_spark().collect()) == want
    df2 = dx.read_parquet(spark, f"{sf_dir}/orders.parquet",
                          filters=[[("o_orderstatus", "in", ["F", "O"])],
                                   [("o_totalprice", "<", 1000)]])
    want2 = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/orders.parquet') "
        f"WHERE o_orderstatus IN ('F','O') OR o_totalprice < 1000").fetchone()[0]
    assert len(df2.to_spark().collect()) == want2
    plan = df.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan


def test_parquet_append_compression_partition_on(spark, tmp_path):
    """round 4: to_parquet append=/compression=/partition_on= parity
    (reference io/parquet.py:337)."""
    import pandas as pd

    p = str(tmp_path / "appendpq")
    a = from_pandas(spark, pd.DataFrame({"k": ["x", "y"], "v": [1, 2]}))
    b = from_pandas(spark, pd.DataFrame({"k": ["x"], "v": [3]}))
    a.to_parquet(p, compression="zstd", partition_on="k")
    b.to_parquet(p, append=True, compression="zstd", partition_on="k")
    back = read_parquet(spark, p).compute()
    assert sorted(back["v"]) == [1, 2, 3]
    assert set(back["k"]) == {"x", "y"}


def test_parquet_clustered_write_disjoint_files(spark, sf_dir, tmp_path):
    """round 5: to_parquet(sort_by=, cluster=True) range-partitions then
    sorts within files, so per-file min/max footer stats on the cluster
    column are disjoint — a filter on it prunes whole files at planning
    time. Asserted from the parquet footers themselves."""
    import os

    import pyarrow.parquet as pq

    p = str(tmp_path / "clustered")
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    # explicit bucket count: at sf0.001 AQE would coalesce the tiny
    # range shuffle to one file and there'd be nothing to assert
    o[["o_orderkey", "o_totalprice"]].to_parquet(
        p, sort_by="o_orderkey", cluster=4)

    ranges = []
    for f in sorted(os.listdir(p)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(p, f)).metadata
        idx = md.schema.names.index("o_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        # sort_by=: row groups within a file are ordered too
        assert mins == sorted(mins)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1  # range shuffle actually split the data
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # file key-ranges disjoint (boundary may touch)

    # row preservation through the range shuffle + sorted write
    n_src = o.compute().shape[0]
    assert read_parquet(spark, p).compute().shape[0] == n_src


def test_parquet_cluster_requires_sort_by(spark, tmp_path):
    df = from_pandas(spark, pd.DataFrame({"a": [1, 2]}))
    with pytest.raises(ValueError, match="sort_by"):
        df.to_parquet(str(tmp_path / "x"), cluster=True)


def test_parquet_zorder_write_clusters_both_dims(spark, sf_dir, tmp_path):
    """round 5: cluster='zorder' (sources/layout.py) interleaves
    quantile-bucket bits of ALL sort columns, so per-file footer ranges
    are narrow on EVERY dimension — vs leading-column clustering, where
    the trailing column's per-file range stays ~global (no pruning).
    Asserted from the parquet footers on both layouts side by side."""
    import os
    import statistics

    import pyarrow.parquet as pq

    def file_range_fracs(path, col):
        """median per-file (max-min) as a fraction of the global range."""
        spans, los, his = [], [], []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.names.index(col)
            st = [md.row_group(rg).column(idx).statistics
                  for rg in range(md.num_row_groups)]
            lo, hi = min(s.min for s in st), max(s.max for s in st)
            spans.append(hi - lo)
            los.append(lo)
            his.append(hi)
        glob = max(his) - min(los)
        return statistics.median(spans) / glob, len(spans)

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_orderdate", "o_totalprice"]]
    lead = str(tmp_path / "lead")
    zord = str(tmp_path / "zord")
    # pinned bucket count: AQE would coalesce the tiny sf0.001 shuffle
    # to one file and leave nothing to compare
    o.to_parquet(lead, sort_by=["o_orderdate", "o_totalprice"], cluster=8)
    o.to_parquet(zord, sort_by=["o_orderdate", "o_totalprice"],
                 cluster=("zorder", 8))

    lead_price, n_lead = file_range_fracs(lead, "o_totalprice")
    z_price, n_z = file_range_fracs(zord, "o_totalprice")
    assert n_lead > 1 and n_z > 1
    # leading-column layout: price ranges are ~global (no pruning)
    assert lead_price > 0.8, lead_price
    # z-order: BOTH dimensions land well under global per file
    assert z_price < 0.6, z_price

    # row preservation through quantile bucketing + range shuffle
    assert read_parquet(spark, zord).compute().shape[0] == \
        o.compute().shape[0]


def test_parquet_zorder_needs_two_columns(spark, tmp_path):
    df = from_pandas(spark, pd.DataFrame({"a": [1, 2], "b": [3, 4]}))
    with pytest.raises(ValueError, match="zorder"):
        df.to_parquet(str(tmp_path / "x"), sort_by="a", cluster="zorder")


def test_load_tables_file_uri(spark, tmp_path):
    """`sf_dir` given as a file:// URI is checked through fsops, not
    os.path (which reports every URI as missing)."""
    pd.DataFrame({"r_regionkey": [0, 1]}).to_parquet(tmp_path / "region.parquet")
    pd.DataFrame({"n_nationkey": [0, 1, 2]}).to_parquet(tmp_path / "nation.parquet")
    tables = load_tables(spark, f"file://{tmp_path}",
                         names=("region", "nation", "orders"))
    assert set(tables) == {"region", "nation"}
    assert len(tables["nation"]) == 3


# --- the parquet schema cache (sources/io.py `_resolve_schema`) -----------

def _jobs(spark, fn) -> int:
    """Spark jobs `fn()` launches, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _uncached(spark, path):
    """A read that bypasses the cache: the inference path, uncached."""
    from dask_expr_spark.sources import io

    io._SCHEMA_CACHE.clear()
    return read_parquet(spark, path)


def _assert_same(got, want):
    g, w = got.to_spark(), want.to_spark()
    assert g.schema == w.schema
    assert sorted(map(tuple, g.collect()), key=repr) == \
        sorted(map(tuple, w.collect()), key=repr)


@pytest.mark.parametrize("uri", [False, True], ids=["local", "file_uri"])
def test_schema_cache_second_read_launches_no_job(spark, tmp_path, uri):
    """The claim the cache exists for: a first open infers (>= 1 job), a
    second open of the unchanged path launches none.  The file:// case
    fingerprints through HadoopFS.list_stats."""
    d = tmp_path / "t"
    d.mkdir()
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_parquet(d / "part-0.parquet")
    pd.DataFrame({"a": [3], "b": ["z"]}).to_parquet(d / "part-1.parquet")
    path = f"file://{d}" if uri else str(d)
    assert _jobs(spark, lambda: read_parquet(spark, path).columns) >= 1
    assert _jobs(spark, lambda: read_parquet(spark, path).columns) == 0
    _assert_same(read_parquet(spark, path), _uncached(spark, path))


def test_schema_cache_sees_overwrite_with_added_column(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"a": [1, 2]}).to_parquet(path)
    assert read_parquet(spark, path).columns == ["a"]
    pd.DataFrame({"a": [1, 2], "c": [0.5, 1.5]}).to_parquet(path)
    got = read_parquet(spark, path)
    assert got.columns == ["a", "c"]
    _assert_same(got, _uncached(spark, path))


def test_schema_cache_relists_appended_and_deleted_files(spark, tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    for i in range(2):
        pd.DataFrame({"a": [i]}).to_parquet(d / f"part-{i}.parquet")
    path = str(d)
    read_parquet(spark, path).columns
    pd.DataFrame({"a": [2]}).to_parquet(d / "part-2.parquet")
    (d / "part-0.parquet").unlink()
    assert _jobs(spark, lambda: read_parquet(spark, path).columns) >= 1
    got = read_parquet(spark, path)
    assert sorted(got.compute()["a"]) == [1, 2]
    _assert_same(got, _uncached(spark, path))


def test_schema_cache_keeps_partition_column_types_and_order(spark, tmp_path):
    d = tmp_path / "t"
    for p, q in [(1, 10), (2, 20), (2, 30)]:
        (d / f"p={p}" / f"q={q}").mkdir(parents=True)
        pd.DataFrame({"a": [p * q], "b": ["s"]}).to_parquet(
            d / f"p={p}" / f"q={q}" / "part-0.parquet")
    path = str(d)
    first = read_parquet(spark, path)
    assert _jobs(spark, lambda: read_parquet(spark, path).columns) == 0
    got = read_parquet(spark, path)
    assert got.columns == ["a", "b", "p", "q"]
    assert [f.dataType.typeName() for f in got.to_spark().schema.fields[2:]] \
        == ["integer", "integer"]
    _assert_same(got, first)
    _assert_same(got, _uncached(spark, path))


def test_schema_cache_skips_partition_column_stored_in_files(spark, tmp_path):
    """Inference keeps such a column at its file position, an explicit
    schema would move it last, so the table is never cached."""
    d = tmp_path / "t"
    for p in (1, 2):
        (d / f"p={p}").mkdir(parents=True)
        pd.DataFrame({"p": [p], "a": [p * 10]}).to_parquet(
            d / f"p={p}" / "part-0.parquet")
    path = str(d)
    first = read_parquet(spark, path)
    assert first.columns == ["p", "a"]
    assert _jobs(spark, lambda: read_parquet(spark, path).columns) >= 1
    _assert_same(read_parquet(spark, path), first)


def test_schema_cache_truncates_nano_timestamps_on_hit(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"k": [1, 2],
                             "ts": pa.array(ns, pa.timestamp("ns"))}), path)
    read_parquet(spark, path).columns
    assert _jobs(spark, lambda: read_parquet(spark, path).columns) == 0
    got = read_parquet(spark, path)
    assert got.to_spark().schema["ts"].dataType.typeName() == "timestamp"
    micros = sorted(r.ts_us for r in got.to_spark().selectExpr(
        "unix_micros(ts) AS ts_us").collect())
    assert micros == [n // 1000 for n in ns]
    _assert_same(got, _uncached(spark, path))


def test_schema_cache_reinfers_when_binary_as_string_flips(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pd.DataFrame({"b": [b"x", b"yz"]}).to_parquet(path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).to_spark().schema["b"] \
            .dataType.typeName() == "binary"
        spark.conf.set(key, "true")
        got = read_parquet(spark, path)
        assert got.to_spark().schema["b"].dataType.typeName() == "string"
        _assert_same(got, _uncached(spark, path))
    finally:
        spark.conf.set(key, before)


def test_schema_cache_evicts_least_recently_used(spark, tmp_path, monkeypatch):
    from dask_expr_spark.sources import io

    monkeypatch.setattr(io, "_SCHEMA_CACHE_MAX", 2)
    io._SCHEMA_CACHE.clear()
    paths = []
    for i in range(3):
        p = str(tmp_path / f"t{i}.parquet")
        pd.DataFrame({"a": [i]}).to_parquet(p)
        paths.append(p)
    t0, t1, t2 = paths
    for p in (t0, t1, t0, t2):  # the hit on t0 makes t1 the oldest
        read_parquet(spark, p).columns
    assert list(io._SCHEMA_CACHE) == [t0, t2]
    assert _jobs(spark, lambda: read_parquet(spark, t0).columns) == 0
    assert _jobs(spark, lambda: read_parquet(spark, t1).columns) >= 1
    assert list(io._SCHEMA_CACHE) == [t0, t1]


def test_schema_cache_threads_share_it_safely(spark, tmp_path, monkeypatch):
    """More reader threads than cores churn a 2-entry cache over three
    tables; every read returns its own table's schema and the cap holds."""
    import os
    import sys
    import threading

    from dask_expr_spark.sources import io

    monkeypatch.setattr(io, "_SCHEMA_CACHE_MAX", 2)
    io._SCHEMA_CACHE.clear()
    paths = {}
    for i in range(3):
        p = str(tmp_path / f"t{i}.parquet")
        pd.DataFrame({f"c{i}": [i]}).to_parquet(p)
        paths[p] = [f"c{i}"]
    errors, sizes = [], []

    def reader(k):
        try:
            for j in range(3):
                p = list(paths)[(k + j) % 3]
                got = io.parquet_schema(spark, p).fieldNames()
                if got != paths[p]:
                    errors.append((p, got))
                with io._SCHEMA_LOCK:
                    sizes.append(len(io._SCHEMA_CACHE))
        except Exception as exc:  # reported by the assert below
            errors.append(repr(exc))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,))
                   for k in range((os.cpu_count() or 1) + 2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(sizes) == 3 * len(threads) and max(sizes) <= 2
