"""The Delta-style transaction log: the one module that writes it and
replays it.

A lakehouse destination never "writes a table"; it writes immutable
data files and then publishes them with an atomic commit: a
``%020d.json`` action file whose CREATION is the transaction. The
protocol's two load-bearing properties, both enforced here:

- **Atomicity**: the commit file appears fully-written or not at all.
  We write to a temp name in the log directory, fsync it, and publish
  with ``os.link`` (fails with EEXIST instead of overwriting) — the
  put-if-absent primitive Delta requires of its log store.
- **Optimistic concurrency**: two writers racing to version N cannot
  both win. The loser's ``link`` raises ``CommitConflict``; per
  protocol it must re-read the log, re-derive its actions against the
  new state, and retry at N+1 — exactly what a multi-writer
  destination does on a real object store.

``txn`` actions ({appId, version}) ride in commits so idempotent
writers (streaming foreachBatch replaying an epoch) can detect their
own prior commit and skip — read back via ``last_txn_version``.

Checkpoints: ``write_checkpoint`` flattens the live-file set at a
version into ``%020d.checkpoint.parquet`` and points
``_last_checkpoint`` at it (an atomic replace, since the pointer
moves forward as new checkpoints land).

Readers. Every relational reader lists the commits of its version
range on the driver and opens only those:

- ``log_actions`` is the one action parse: one row per action line,
  with its version and the parsed add/remove/cdc struct.
- ``table_log_snapshot`` replays ``[0, version]`` through the one
  latest-action window (latest action per path; within one commit an
  add supersedes a remove) and returns the live files with their
  stats. ``table_log_snapshot_from_checkpoint`` feeds the same window
  the checkpoint's live set as a seed plus only the tail commits
  ``(checkpoint, version]``.
- ``change_files`` groups the actions of a version range into the
  change-data-feed manifest (cdc files, dataChange adds and removes).

Driver-side readers walk the same commits as Python dicts:
``read_actions``, ``live_adds`` (the add/remove replay by path),
``last_txn_version`` and ``table_log_column_mapping`` (the latest
metaData schema).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

STATS_TYPE = (
    "struct<numRecords:bigint,minValues:struct<o_orderkey:bigint>,"
    "maxValues:struct<o_orderkey:bigint>>"
)
ACTION_TYPE = (
    "struct<add:struct<path:string,dataChange:boolean,stats:string>,"
    "remove:struct<path:string,dataChange:boolean>,"
    "cdc:struct<path:string,dataChange:boolean>>"
)
LAST_CHECKPOINT = "_last_checkpoint"


class CommitConflict(Exception):
    """Another writer already committed this version (protocol: re-read
    the log and retry at the next version)."""


def write_synced(path: str, text: str) -> str:
    """Write ``text`` to a temp file next to ``path`` and fsync it;
    returns the temp path for the caller to publish."""
    tmp = path + ".tmp.%d" % os.getpid()
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def commit(log_dir: str, version: int, actions: list[dict]) -> str:
    """Atomically publish ``actions`` as commit ``version``.

    Returns the commit file path. Raises CommitConflict if the version
    already exists — never overwrites (overwriting a commit would
    rewrite table history out from under concurrent readers)."""
    os.makedirs(log_dir, exist_ok=True)
    final = os.path.join(log_dir, "%020d.json" % version)
    tmp = write_synced(final, "\n".join(json.dumps(a) for a in actions) + "\n")
    try:
        os.link(tmp, final)  # put-if-absent: EEXIST on conflict
    except FileExistsError:
        raise CommitConflict(f"version {version} already committed")
    finally:
        os.unlink(tmp)
    return final


def _commits(log_dir: str) -> dict[int, str]:
    """version -> commit file path (empty for a missing log)."""
    if not os.path.isdir(log_dir):
        return {}
    return {
        int(name[:-5]): os.path.join(log_dir, name)
        for name in os.listdir(log_dir)
        if name.endswith(".json") and name[:-5].isdigit()
    }


def latest_version(log_dir: str) -> int:
    """Highest committed version, -1 for an empty/missing log."""
    return max(_commits(log_dir), default=-1)


def read_actions(log_dir: str, upto: int | None = None) -> list[tuple[int, dict]]:
    """All (version, action) pairs up to ``upto`` (driver-side, over
    the bounded manifest — the same scale shape as Delta's own log
    replay)."""
    out: list[tuple[int, dict]] = []
    commits = _commits(log_dir)
    for v in sorted(commits):
        if upto is not None and v > upto:
            continue
        with open(commits[v]) as f:
            out.extend((v, json.loads(line)) for line in f if line.strip())
    return out


def live_adds(log_dir: str, version: int | None = None) -> dict[str, dict]:
    """Driver-side replay up to ``version``: each live path mapped to
    the add action that made it live. Within one commit an add
    supersedes a remove, as in the relational replay."""
    live: dict[str, dict] = {}
    actions = read_actions(log_dir, upto=version)
    for _, a in sorted(actions, key=lambda va: (va[0], "add" in va[1])):
        if "remove" in a:
            live.pop(a["remove"]["path"], None)
        if "add" in a:
            live[a["add"]["path"]] = a["add"]
    return live


def last_txn_version(log_dir: str, app_id: str) -> int:
    """Latest ``txn`` version committed by ``app_id`` (-1 if none) —
    the idempotent-writer probe: a replayed micro-batch whose epoch is
    <= this value has already been committed and must be skipped."""
    best = -1
    for _, action in read_actions(log_dir):
        t = action.get("txn")
        if t and t.get("appId") == app_id:
            best = max(best, int(t["version"]))
    return best


def table_log_column_mapping(log_dir: str, version: int) -> dict[str, str]:
    """Resolve the logical→physical column map at ``version``: the
    LATEST metaData action carrying a schema wins."""
    mapping: dict[str, str] | None = None
    for _, a in read_actions(log_dir, upto=version):
        if "schema" in a.get("metaData", {}):
            mapping = a["metaData"]["schema"]
    if mapping is None:
        raise ValueError(f"no metaData with a schema at version {version}")
    return mapping


def add_action(path: str, n: int, lo, hi, partition: dict | None = None) -> dict:
    """An ``add`` with the embedded Delta-style stats string the
    scan_table_log reader prunes on."""
    a = {
        "path": path,
        "dataChange": True,
        "stats": json.dumps(
            {
                "numRecords": int(n),
                "minValues": {"o_orderkey": int(lo)},
                "maxValues": {"o_orderkey": int(hi)},
            }
        ),
    }
    if partition is not None:
        a["partitionValues"] = {k: str(v) for k, v in partition.items()}
    return {"add": a}


def version_glob(lo: int, hi: int) -> str:
    """A file-name glob matching exactly the commits ``lo..hi``: one
    pattern per aligned block of 10^k versions, at most 18 per digit."""
    blocks = []
    while lo <= hi:
        k = 0
        while lo % 10 ** (k + 1) == 0 and lo + 10 ** (k + 1) - 1 <= hi:
            k += 1
        blocks.append(("%020d" % lo)[: 20 - k] + "[0-9]" * k)
        lo += 10**k
    return "{" + ",".join(blocks) + "}.json"


def log_actions(
    spark: SparkSession, log_dir: str, after: int, upto: int
) -> DataFrame:
    """The action parse: one row per action line of the commits in
    ``(after, upto]`` — ``version`` and the parsed struct ``j``.

    The commits in range are listed on the driver and only they are
    opened: the scan lists the log directory once and keeps the names
    ``version_glob`` matches. (Passing each commit as its own path
    instead costs Spark a listing task per path: about 5 s for 1,000
    commits on 4 cores.) An empty range is an empty frame."""
    versions = [v for v in sorted(_commits(log_dir)) if after < v <= upto]
    if not versions:
        return spark.createDataFrame([], f"version bigint, j {ACTION_TYPE}")
    glob = version_glob(versions[0], versions[-1])
    return spark.read.option("pathGlobFilter", glob).text(log_dir).select(
        F.regexp_extract(
            F.element_at(F.split(F.input_file_name(), "/"), -1),
            r"^(\d+)\.json$",
            1,
        )
        .cast("long")
        .alias("version"),
        F.from_json("value", ACTION_TYPE).alias("j"),
    )


def _live(actions: DataFrame, seed: DataFrame | None = None) -> DataFrame:
    """The latest-action window over the add/remove actions of
    ``actions`` (plus ``seed``, rows already in window shape): the
    latest action per path (version DESC; within one commit an add
    supersedes a remove, per Delta's commit atomicity), adds kept.
    One row per live file: path, numRecords, min_k, max_k.

    The whole computation is over the manifest (|files| rows), never
    data — the same scale shape as Delta's own log replay."""
    files = actions.filter(
        F.col("j.add.path").isNotNull() | F.col("j.remove.path").isNotNull()
    ).select(
        F.coalesce("j.add.path", "j.remove.path").alias("path"),
        "version",
        F.col("j.add.path").isNotNull().cast("int").alias("is_add"),
        F.from_json("j.add.stats", STATS_TYPE).alias("st"),
    )
    if seed is not None:
        files = seed.unionByName(files)
    w = Window.partitionBy("path").orderBy(
        F.col("version").desc(), F.col("is_add").desc()
    )
    return (
        files.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("is_add") == 1))
        .select(
            "path",
            F.col("st.numRecords").alias("numRecords"),
            F.col("st.minValues.o_orderkey").alias("min_k"),
            F.col("st.maxValues.o_orderkey").alias("max_k"),
        )
    )


def table_log_snapshot(
    spark: SparkSession, log_dir: str, version: int
) -> DataFrame:
    """Replay the log RELATIONALLY over commits ``[0, version]``: one
    row per live file (path, numRecords, min_k, max_k)."""
    return _live(log_actions(spark, log_dir, -1, version))


def checkpoint_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, "%020d.checkpoint.parquet" % version)


def write_checkpoint(spark: SparkSession, log_dir: str, version: int) -> None:
    """Flatten the live-file set at ``version`` into its checkpoint
    parquet, then move ``_last_checkpoint`` to it."""
    table_log_snapshot(spark, log_dir, version).coalesce(1).write.mode(
        "overwrite"
    ).parquet(checkpoint_path(log_dir, version))
    pointer = os.path.join(log_dir, LAST_CHECKPOINT)
    os.replace(write_synced(pointer, json.dumps({"version": version})), pointer)


def table_log_snapshot_from_checkpoint(
    spark: SparkSession, log_dir: str, version: int
) -> DataFrame:
    """Resolve the live-file set at ``version`` via the checkpoint
    path: read ``_last_checkpoint`` → load the checkpoint parquet
    (live adds at checkpoint version) → replay only the commits in
    (ckpt_version, version]. Commits at or before the checkpoint are
    never opened — the O(tail) open that makes long-history tables
    cheap. Same output shape as table_log_snapshot."""
    with open(os.path.join(log_dir, LAST_CHECKPOINT)) as f:
        ckpt_version = int(json.loads(f.read())["version"])
    if version < ckpt_version:
        raise ValueError(
            f"pinned version {version} predates checkpoint {ckpt_version}; "
            "use table_log_snapshot (full replay) for pre-checkpoint reads"
        )
    seed = spark.read.parquet(checkpoint_path(log_dir, ckpt_version)).select(
        "path",
        F.lit(ckpt_version).cast("long").alias("version"),
        F.lit(1).alias("is_add"),
        F.struct(
            F.col("numRecords"),
            F.struct(F.col("min_k").alias("o_orderkey")).alias("minValues"),
            F.struct(F.col("max_k").alias("o_orderkey")).alias("maxValues"),
        ).alias("st"),
    )
    return _live(log_actions(spark, log_dir, ckpt_version, version), seed)


def change_files(
    spark: SparkSession, log_dir: str, after: int, upto: int
) -> dict[int, dict[str, list[str]]]:
    """The change-data-feed manifest of the commits in ``(after,
    upto]``: per version, its ``cdc`` files and its dataChange ``add``
    and ``rm`` paths (a bounded collect of |actions| rows)."""
    rows = log_actions(spark, log_dir, after, upto).select(
        "version",
        F.col("j.add.path").alias("add_path"),
        F.col("j.add.dataChange").alias("add_dc"),
        F.col("j.remove.path").alias("rm_path"),
        F.col("j.remove.dataChange").alias("rm_dc"),
        F.col("j.cdc.path").alias("cdc_path"),
    ).collect()
    by_version: dict[int, dict[str, list[str]]] = {}
    for r in rows:
        b = by_version.setdefault(r["version"], {"cdc": [], "add": [], "rm": []})
        if r["cdc_path"] is not None:
            b["cdc"].append(r["cdc_path"])
        if r["add_path"] is not None and r["add_dc"]:
            b["add"].append(r["add_path"])
        if r["rm_path"] is not None and r["rm_dc"]:
            b["rm"].append(r["rm_path"])
    return by_version
