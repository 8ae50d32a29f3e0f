"""Remote-scheme warehouse support for ParquetCatalog.

The catalog's manifest commits must go through the warehouse's OWN
filesystem (the Hadoop FS layer Spark writes the data with), not
through driver-local ``open()``/``os.replace`` — otherwise an
``hdfs://``/``s3a://`` warehouse would write data remotely but commit
pointers into a literal local directory. No real cluster exists in
the sandbox, so the tests mount a ``viewfs://`` namespace (a genuinely
non-local scheme resolved by Hadoop's client-side mount table) over a
temp directory: every catalog operation then exercises the
``_HadoopFS`` path — URI parsing, FileSystem.get, create/hflush,
FileContext OVERWRITE rename, recursive listing — end to end.
"""

import json
import os
import tempfile
import uuid

import pytest

from chameleon_entity_linking_spark.sources.catalog import (
    ParquetCatalog,
    _HadoopFS,
)


@pytest.fixture()
def viewfs_warehouse(spark):
    # unique mount-table authority per test: Hadoop caches FileSystem
    # instances by (scheme, authority), so re-pointing one mount name
    # at a new temp dir would silently keep serving the first mount
    name = f"cattest{uuid.uuid4().hex[:8]}"
    base = tempfile.mkdtemp(prefix="viewfs_wh_")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(f"fs.viewfs.mounttable.{name}.link./wh", "file://" + base)
    yield f"viewfs://{name}/wh", base


class TestRemoteWarehouse:
    def test_write_read_roundtrip(self, spark, viewfs_warehouse):
        wh, base = viewfs_warehouse
        cat = ParquetCatalog(wh, spark=spark)
        assert isinstance(cat.fs, _HadoopFS)  # non-local scheme routed
        df = spark.range(20).selectExpr("id", "id * 2 AS v")
        snap = cat.write(
            "t", df, lineage={"stage": "s", "fingerprint": "fp1"}
        )
        assert snap.snapshot_id == 0
        assert snap.row_count == 20
        # per-partition lineage from the remote FS listing
        assert snap.partitions and all(
            p["path"].endswith(".parquet") and p["bytes"] > 0
            for p in snap.partitions
        )
        got = sorted(r.id for r in cat.read(spark, "t").collect())
        assert got == list(range(20))
        # the manifest landed under the MOUNTED directory (i.e. went
        # through viewfs), and no literal "viewfs:" dir appeared
        assert os.path.exists(os.path.join(base, "t", "manifest.json"))
        assert not os.path.exists("viewfs:")

    def test_append_and_overwrite_snapshots(self, spark, viewfs_warehouse):
        wh, _ = viewfs_warehouse
        cat = ParquetCatalog(wh, spark=spark)
        cat.write("t2", spark.range(3).selectExpr("id"))
        cat.write("t2", spark.range(3, 8).selectExpr("id"), mode="append")
        assert cat.read(spark, "t2").count() == 8
        assert [s["snapshot_id"] for s in cat.history("t2")] == [0, 1]
        # overwrite commit swaps the pointer atomically (FileContext
        # OVERWRITE rename): readers see only the new snapshot
        cat.write("t2", spark.range(100, 102).selectExpr("id"))
        assert sorted(r.id for r in cat.read(spark, "t2").collect()) == [
            100,
            101,
        ]
        # read_written: only the rows one commit wrote — the append's
        # delta, not the cumulative table it fronts
        delta = cat.read_written(spark, "t2", 1)
        assert sorted(r.id for r in delta.collect()) == [3, 4, 5, 6, 7]
        assert cat.read_written(spark, "t2", 2).count() == 2

    def test_resume_fingerprint_survives_remote_manifest(
        self, spark, viewfs_warehouse
    ):
        wh, base = viewfs_warehouse
        cat = ParquetCatalog(wh, spark=spark)
        cat.write(
            "t3",
            spark.range(4).selectExpr("id"),
            lineage={"stage": "block", "fingerprint": "abc123"},
        )
        # a fresh catalog object (new process analogue) reads the same
        # committed lineage back through the remote scheme
        cat2 = ParquetCatalog(wh, spark=spark)
        snap = cat2.current_snapshot("t3")
        assert snap is not None
        assert snap.lineage == {"stage": "block", "fingerprint": "abc123"}
        # manifest bytes on the mounted store are well-formed JSON
        with open(os.path.join(base, "t3", "manifest.json")) as f:
            m = json.load(f)
        assert m["snapshots"][-1]["lineage"]["fingerprint"] == "abc123"

    def test_drop_remote_table(self, spark, viewfs_warehouse):
        wh, base = viewfs_warehouse
        cat = ParquetCatalog(wh, spark=spark)
        cat.write("t4", spark.range(2).selectExpr("id"))
        assert cat.exists("t4")
        cat.drop("t4")
        assert not cat.exists("t4")
        assert not os.path.exists(os.path.join(base, "t4"))
