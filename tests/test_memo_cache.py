"""Staleness contract of ``serverless_data_lake_spark.testdata``: the
one per-session memo (``MEMO``), the local-layout copies
(``data_path``) and the catalog registration (``ensure_catalog``).

- an UNCHANGED directory serves the memoized value (no rebuild),
- regenerating data under the SAME path (size or mtime change)
  rebuilds it, in the same slot,
- a new Spark application drops every slot,
- ``MEMO.clear()`` force-drops everything.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from serverless_data_lake_spark import testdata


def _write_table(spark, d: str, val: int) -> None:
    spark.createDataFrame(
        [(1, val)], "id long, v long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "t.parquet")
    )


def _session(app: str):
    """Just enough of a SparkSession for the memo and the registration:
    an application id, and a ``sql`` that records each statement."""
    ddl: list[str] = []
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=app),
        sql=ddl.append,
        ddl=ddl,
    )


def test_memo_fingerprint_invalidation(spark, tmp_path):
    d = str(tmp_path)
    _write_table(spark, d, 10)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(os.path.join(d, "t.parquet"))

    got1 = testdata.memo_local_relation(spark, d, "contract_probe", build)
    assert [r["v"] for r in got1.collect()] == [10]
    # unchanged dir: cached rows, no rebuild
    got2 = testdata.memo_local_relation(spark, d, "contract_probe", build)
    assert [r["v"] for r in got2.collect()] == [10]
    assert len(calls) == 1

    # regenerate under the SAME path -> fingerprint changes -> rebuild
    _write_table(spark, d, 20)
    got3 = testdata.memo_local_relation(spark, d, "contract_probe", build)
    assert [r["v"] for r in got3.collect()] == [20]
    assert len(calls) == 2

    # force mtime-only change (same bytes): still invalidates
    part = next(
        os.path.join(d, "t.parquet", f)
        for f in os.listdir(os.path.join(d, "t.parquet"))
        if f.endswith(".parquet")
    )
    os.utime(part, ns=(1, 1))
    testdata.memo_local_relation(spark, d, "contract_probe", build)
    assert len(calls) == 3

    # explicit override drops the memo even with no file change
    testdata.MEMO.clear()
    testdata.memo_local_relation(spark, d, "contract_probe", build)
    assert len(calls) == 4


def test_memo_local_relation_capped_overcap_probe_memoized(spark, tmp_path):
    """The capped variant must refuse over-cap gram sets with None AND
    memoize the refusal per data fingerprint (the sizing probe runs
    once, not per construction) — then re-probe after the data
    changes."""
    d = tmp_path / "sfdir2"
    d.mkdir()
    f = d / "t.parquet"
    f.write_bytes(b"x")

    calls = []

    def build():
        calls.append(1)
        return spark.range(5).selectExpr("id AS v")

    out = testdata.memo_local_relation_capped(
        spark, str(d), "cap-probe", build, cap=3
    )
    assert out is None and len(calls) == 1
    # refusal memoized: second construction does NOT re-probe
    assert testdata.memo_local_relation_capped(
        spark, str(d), "cap-probe", build, cap=3
    ) is None
    assert len(calls) == 1
    # under-cap path returns the rows
    under = testdata.memo_local_relation_capped(
        spark, str(d), "cap-probe-under", build, cap=10
    )
    assert under is not None and under.count() == 5
    # data change → fingerprint change → the over-cap key re-probes
    f.write_bytes(b"xy")
    assert testdata.memo_local_relation_capped(
        spark, str(d), "cap-probe", build, cap=3
    ) is None
    assert len(calls) == 3  # initial probe + under-cap build + re-probe


def test_rebuild_leaves_no_stale_slot(tmp_path):
    """Rebuilding under a NEW data fingerprint replaces the slot, so
    repeated in-place regens cannot grow driver memory; slots for other
    kinds and data-independent artifacts survive. A new application id
    drops every slot of the old one."""
    d, other = tmp_path / "sf", tmp_path / "other"
    d.mkdir()
    other.mkdir()
    memo = testdata.SessionMemo()
    sess = _session("app-1")
    memo.get(sess, None, "independent", lambda: "keep-me")
    memo.get(sess, str(other), "probe", lambda: "other")
    for val in range(3):
        (d / "t.parquet").write_bytes(b"x" * (val + 1))
        assert memo.get(sess, str(d), "probe", lambda v=val: v) == val
    assert len(memo._slots) == 3
    assert memo.get(sess, None, "independent", lambda: "rebuilt") == "keep-me"
    assert memo.get(sess, str(other), "probe", lambda: "rebuilt") == "other"

    assert memo.get(_session("app-2"), None, "fresh", lambda: 1) == 1
    assert list(memo._slots) == [(None, "fresh")]


def test_parquet_num_rows_multi_file_and_fallback(spark, tmp_path):
    """The sized-read row count must be layout-robust — a multi-file
    dataset directory sums its file footers, and an unreadable layout
    returns None (callers then keep the full-core clamp) instead of
    raising."""
    d = str(tmp_path / "multi.parquet")
    spark.range(100).repartition(2).write.mode("overwrite").parquet(d)
    import glob

    n_files = len(glob.glob(os.path.join(d, "*.parquet")))
    assert n_files >= 2, "fixture must be a multi-file table"
    assert testdata.parquet_num_rows(d) == 100
    # single-file layout still works (the bench/nanocache shape)
    single = str(tmp_path / "single.pq")
    spark.range(7).coalesce(1).toPandas().to_parquet(single)
    assert testdata.parquet_num_rows(single) == 7
    # unreadable layout -> None, no raise
    assert testdata.parquet_num_rows(str(tmp_path / "nope")) is None


def _write_rows(path: str, n: int) -> None:
    pq.write_table(pa.table({"v": list(range(n))}), path)


def test_data_path_follows_rewritten_source(tmp_path, monkeypatch):
    """A source regenerated in place (as tools/gen_scale_data.py does)
    must get a fresh copy, not the copy of the old file."""
    monkeypatch.setattr(testdata, "CACHE_ROOT", str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_rows(str(sf / "events.parquet"), 3)
    first = testdata.data_path(str(sf), "events")
    assert pq.read_table(first).num_rows == 3

    _write_rows(str(sf / "events.parquet"), 4)
    second = testdata.data_path(str(sf), "events")
    assert pq.read_table(second).num_rows == 4
    assert not os.path.exists(first)


def test_registration_follows_session_and_sf_dir(tmp_path, monkeypatch):
    """The ``tpch_silver`` tables are registered again when the Spark
    application changes (a stopped and restarted session has an empty
    catalog), when the data is regenerated, and whenever the catalog
    is pointed at another sf_dir: A → B → A leaves the tables at A."""
    monkeypatch.setattr(testdata, "CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(testdata, "MEMO", testdata.SessionMemo())
    dirs = {}
    for name in ("a", "b"):
        dirs[name] = tmp_path / name
        dirs[name].mkdir()
        for t in testdata.TABLES:
            _write_rows(str(dirs[name] / f"{t}.parquet"), 2)
    a, b = str(dirs["a"]), str(dirs["b"])

    def locations(sess) -> dict[str, str]:
        return {
            stmt.split()[2]: stmt.split("LOCATION ")[1].strip("'")
            for stmt in sess.ddl
            if stmt.startswith("CREATE TABLE")
        }

    def at(sf_dir: str) -> dict[str, str]:
        return {
            f"tpch_silver.{t}": testdata.data_path(sf_dir, t)
            for t in testdata.TABLES
        }

    s1 = _session("app-1")
    testdata.ensure_catalog(s1, a)
    n = len(s1.ddl)
    assert locations(s1) == at(a)
    testdata.ensure_catalog(s1, a)
    assert len(s1.ddl) == n  # same session, same data: no DDL

    s2 = _session("app-2")
    testdata.ensure_catalog(s2, a)
    assert locations(s2) == at(a)

    testdata.ensure_catalog(s2, b)
    assert locations(s2) == at(b)
    testdata.ensure_catalog(s2, a)
    assert locations(s2) == at(a)

    _write_rows(str(dirs["a"] / "region.parquet"), 5)
    testdata.ensure_catalog(s2, a)
    region = locations(s2)["tpch_silver.region"]
    assert pq.read_table(region).num_rows == 5
