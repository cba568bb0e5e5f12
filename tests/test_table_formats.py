"""Byte pins for the table-format metadata the lakehouse keys write.

Every Delta-style log commit, checkpoint pointer, Iceberg manifest,
manifest list and Hudi timeline instant these keys stage is hashed at
sf0.001 and compared with a pinned sha256, so a refactor of the writers
cannot change a byte unnoticed. Avro containers are deterministic
because ``sink/avro.SYNC_MARKER`` is pinned. Parquet files are not
pinned: their part names carry UUIDs.
"""

from __future__ import annotations

import hashlib
import importlib
import os

import pytest

# key -> the metadata directory it writes, relative to its scratch root
META_DIRS = {
    "scan_table_log": "_table_log",
    "scan_table_log_checkpoint": "_table_log",
    "scan_table_log_cdf": "_table_log",
    "scan_table_log_column_map": "_table_log",
    "sink_table_log_write": "_table_log",
    "scan_iceberg_manifest": "metadata",
    "sink_iceberg_commit": "metadata",
    "scan_hudi_timeline": ".hoodie",
}

PINS = {
    "scan_hudi_timeline": {
        "20240101000000.commit":
            "350ccec0c9a36ef4cbd30b0363397d37b25b64da22a67a1d2bfb1a06dae135d0",
        "20240102000000.commit":
            "0998987923862adb179267ad45d2003b14bcfaebc42da02d9fabddca819163a3",
        "20240103000000.replacecommit":
            "e5bac986df3711f799e0cca0b800bb2c769d765f379bbb029fd1965fe61ecb2f",
        "20240104000000.commit.inflight":
            "0396557714e5380803479ed0618eab8dfc25fe42412e1ffb83ac2bd80f297243",
    },
    "scan_iceberg_manifest": {
        "manifest-0.avro":
            "25c39a92fbcf611ea0cec66576ac05f5b6fe117dbddf3cd922958d7e885b9811",
        "manifest-1.avro":
            "62d32dc10eb51919df87092b852ca7a73e7ef7a86455bcad21135f113801e85f",
        "manifest-list.avro":
            "99552e3b146b72b41dba2a0e7ab771ac4f7f92d8d3c8c3d0f5e7ce281decc120",
        "00000000000000000000.json":
            "9ed48a70f8abf3e6ec5e7fc3b30af3b4737493ccccb102b6d043c1561008bad3",
    },
    "scan_table_log": {
        "00000000000000000000.json":
            "5b459df0c371748a17f161956e7a60d1e8f748ca2b072a6c793cfd0f115cad80",
        "00000000000000000001.json":
            "e534a48522347b939b44d51c5db509d7afedb424546114bc408cc2d3262e09e4",
    },
    "scan_table_log_cdf": {
        "00000000000000000000.json":
            "b67e34edda12c5a1a78b393b4ffe2fec92d21810ef50812981799de972de1bb4",
        "00000000000000000001.json":
            "8d232250910f96ba78fd5f0c56c9c00cec1a25d96d63859b66b9060ccf137ba3",
        "00000000000000000002.json":
            "f68bdd16adaa4440cbe5a793b53fcb6769943d3b46099db4a22ea6c2c3f9682c",
    },
    "scan_table_log_checkpoint": {
        "00000000000000000000.json":
            "5b459df0c371748a17f161956e7a60d1e8f748ca2b072a6c793cfd0f115cad80",
        "00000000000000000001.json":
            "e534a48522347b939b44d51c5db509d7afedb424546114bc408cc2d3262e09e4",
        "00000000000000000002.json":
            "f68bdd16adaa4440cbe5a793b53fcb6769943d3b46099db4a22ea6c2c3f9682c",
        "_last_checkpoint":
            "c3aa9744214caf6eb993d6f88f3f1dda3e4e60d59f712b6463c4ce2c4b00dfa1",
    },
    "scan_table_log_column_map": {
        "00000000000000000000.json":
            "4fe7a9fa889739637acd0cb875328096a626f77f515323944687425de63fcbdb",
        "00000000000000000001.json":
            "0cc0dfb76dc12082d84a78d6e2939819bee544968b72ecd5440981797079bf3d",
    },
    "sink_iceberg_commit": {
        "00000000000000000000.json":
            "562b58f27ae25365c3eb30d139f56c8f801ffb63b0f347beb10afaf460de542d",
        "00000000000000000001.json":
            "45f83d13dd06a3d3538e9de2f90e754ccc3b2cef7c18dd85e4a439df302ed8bb",
        "00000000000000000002.json":
            "ea5eb78409b2660b19cfca92770eb8d83588f54f3129a578200c344016fd6d10",
        "manifest-a.avro":
            "bf37abc60cea96e4d476c8864e11ccd6c3e8b0c387324a481b4a0246eb2a9ac9",
        "manifest-b.avro":
            "4190fc5435bca791e9eb0f81d7312d19f89394a00880b07e6b383c69ff2d25a0",
        "manifest-b2.avro":
            "49871b05616c2d795e7554e91f7cb62dbe665f7bd1ee278116d907e58780e3bc",
        "manifest-c.avro":
            "62d32dc10eb51919df87092b852ca7a73e7ef7a86455bcad21135f113801e85f",
        "manifest-list-v0.avro":
            "b2670a3b2f548031c3829a7fb5cec449b027dfcb89d457840b086c8f59c6a4c9",
        "manifest-list-v1.avro":
            "645fe37a849e7a89f20fea8217e2d82e877eeecb103b408a9a1f0e5a3f7359e8",
        "manifest-list-v2.avro":
            "d10274fcbca706727caf8aa17978857842c63f6ee0cb5f8e5cb9e68adb6425df",
    },
    "sink_table_log_write": {
        "00000000000000000000.json":
            "3175f91da737c8f4425d403a8241404f13ccf56bbf7c4699114ad4389dc408e8",
        "00000000000000000001.json":
            "5f4c8b63872397a0df125263241fd03a70f89f2009f0129fd1f5b53f260ebf74",
        "00000000000000000002.json":
            "7d84e1693dda495685521594d4243f9422df7313d85ad3a85e67d5164dc2f98a",
    },
}


def metadata_digests(meta_dir: str) -> dict[str, str]:
    """sha256 of every regular file directly in ``meta_dir`` (the
    checkpoint parquet is a directory and is skipped)."""
    out = {}
    for name in sorted(os.listdir(meta_dir)):
        path = os.path.join(meta_dir, name)
        if os.path.isfile(path):
            with open(path, "rb") as f:
                out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("key", sorted(META_DIRS))
def test_metadata_bytes_are_pinned(spark, sf_dir, key):
    from etl_ch_destination_spark.queries.sources_sinks import _scratch

    tag = os.path.basename(sf_dir.rstrip("/"))
    assert tag == "sf0.001", f"pins are recorded at sf0.001, not {tag}"
    fn = getattr(
        importlib.import_module("etl_ch_destination_spark.queries.sources_sinks"), key
    )
    fn(spark, sf_dir)  # staging is eager; the returned frame is not needed
    got = metadata_digests(os.path.join(_scratch(sf_dir, key), META_DIRS[key]))
    assert got == PINS[key]


@pytest.fixture(scope="module")
def ckpt_log(spark, sf_dir):
    """The scan_table_log_checkpoint log: v0, v1, a checkpoint at v1,
    then v2."""
    from etl_ch_destination_spark.queries.sources_sinks import (
        _scratch,
        scan_table_log_checkpoint,
    )

    scan_table_log_checkpoint(spark, sf_dir)
    return os.path.join(_scratch(sf_dir, "scan_table_log_checkpoint"), "_table_log")


def _commits_read(df) -> list[str]:
    return sorted(
        os.path.basename(f) for f in df.inputFiles() if f.endswith(".json")
    )


def test_checkpoint_read_opens_only_the_tail(spark, ckpt_log):
    from etl_ch_destination_spark.sink.table_log import (
        table_log_snapshot,
        table_log_snapshot_from_checkpoint,
    )

    via_ckpt = table_log_snapshot_from_checkpoint(spark, ckpt_log, 2)
    assert _commits_read(via_ckpt) == ["%020d.json" % 2]
    assert any(".checkpoint.parquet" in f for f in via_ckpt.inputFiles())
    # the full replay opens exactly the commits up to its version
    full = table_log_snapshot(spark, ckpt_log, 1)
    assert _commits_read(full) == ["%020d.json" % v for v in (0, 1)]


def test_checkpoint_read_at_the_checkpoint_version(spark, ckpt_log):
    from etl_ch_destination_spark.sink.table_log import (
        table_log_snapshot,
        table_log_snapshot_from_checkpoint,
    )

    at_ckpt = table_log_snapshot_from_checkpoint(spark, ckpt_log, 1)
    assert _commits_read(at_ckpt) == []
    live = sorted(tuple(r) for r in at_ckpt.collect())
    assert live and live == sorted(
        tuple(r) for r in table_log_snapshot(spark, ckpt_log, 1).collect()
    )


def _glob_names(glob: str) -> set[str]:
    """The 20-digit commit names in 0..1199 that ``glob`` matches."""
    import fnmatch

    alternatives = glob[1 : glob.index("}")].split(",")
    return {
        "%020d.json" % v
        for v in range(1200)
        if any(fnmatch.fnmatch("%020d" % v, a) for a in alternatives)
    }


@pytest.mark.parametrize(
    "lo,hi", [(0, 0), (2, 2), (0, 9), (0, 999), (3, 1134), (10, 199), (97, 1103)]
)
def test_version_glob_matches_exactly_the_range(lo, hi):
    from etl_ch_destination_spark.sink.table_log import version_glob

    assert _glob_names(version_glob(lo, hi)) == {
        "%020d.json" % v for v in range(lo, hi + 1)
    }
