"""Tests for the versioned-snapshot table layer
(sources/snapshots.py): atomic commits, time travel, rollback,
optimistic-concurrency conflicts, and vacuum reclamation.
"""

from __future__ import annotations

import os

import pytest

from rust_ruuvitag_etl_spark.sources import snapshots as sn


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


class TestCommitAndTimeTravel:
    def test_append_lineage(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        v0 = sn.commit(_df(spark, 0, 10), t)
        v1 = sn.commit(_df(spark, 10, 15), t)
        assert (v0, v1) == (0, 1)
        assert sn.read_snapshot(spark, t).count() == 15
        # time travel: version 0 still shows the pre-append world
        assert sn.read_snapshot(spark, t, version=0).count() == 10
        ids = {r["id"] for r in sn.read_snapshot(spark, t).collect()}
        assert ids == set(range(15))

    def test_overwrite_starts_fresh(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 10), t)
        sn.commit(_df(spark, 100, 103), t, mode="overwrite")
        assert sn.read_snapshot(spark, t).count() == 3
        assert sn.read_snapshot(spark, t, version=0).count() == 10

    def test_history_records_operations(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        sn.commit(_df(spark, 5, 9), t)
        sn.commit(_df(spark, 0, 2), t, mode="overwrite")
        h = sn.history(t)
        assert [x["version"] for x in h] == [0, 1, 2]
        assert [x["operation"] for x in h] == [
            "append", "append", "overwrite",
        ]
        assert [x["n_segments"] for x in h] == [1, 2, 1]
        assert [x["parent"] for x in h] == [None, 0, 1]

    def test_read_empty_table_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="no committed versions"):
            sn.read_snapshot(spark, str(tmp_path / "none"))


class TestConcurrencyAndAtomicity:
    def test_version_race_loser_conflicts(self, spark, tmp_path, monkeypatch):
        """Two writers based on the same parent: the loser's exclusive
        manifest create ('x' mode) must fail atomically, leaving the
        winner's data intact and the loser's segment invisible. The
        race window (winner publishes between the loser's parent read
        and its create) is simulated by freezing the loser's view of
        the current version."""
        import json

        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        # Winner publishes v1 ...
        winner = sn._load_manifest(t, 0)
        winner.update({"version": 1, "parent": 0})
        with open(sn._manifest_path(t, 1), "x") as f:
            json.dump(winner, f)
        # ... but the loser still believes the table is at v0.
        monkeypatch.setattr(sn, "current_version", lambda table: 0)
        with pytest.raises(sn.CommitConflict, match="concurrently"):
            sn.commit(_df(spark, 5, 9), t)
        monkeypatch.undo()
        # the loser's orphan segment exists on disk but is invisible
        assert sn.read_snapshot(spark, t).count() == 5
        assert len(os.listdir(os.path.join(t, "data"))) == 2

    def test_expected_version_pins_parent(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        with pytest.raises(sn.CommitConflict, match="expected"):
            sn.commit(_df(spark, 5, 9), t, expected_version=7)
        sn.commit(_df(spark, 5, 9), t, expected_version=0)
        assert sn.read_snapshot(spark, t).count() == 9

    def test_orphan_segment_reclaimed_by_vacuum(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        # orphan: a segment written by a commit that never published
        orphan = str(tmp_path / "tbl" / "data" / "deadbeef")
        _df(spark, 90, 95).write.parquet(orphan)
        deleted = sn.vacuum(t, keep_last=1)
        assert deleted == [os.path.join("data", "deadbeef")]
        assert sn.read_snapshot(spark, t).count() == 5


class TestRollbackAndVacuum:
    def test_rollback_restores_without_deleting(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 10), t)
        sn.commit(_df(spark, 10, 20), t)
        v2 = sn.rollback(t, 0)
        assert v2 == 2
        assert sn.read_snapshot(spark, t).count() == 10
        # the rolled-back-over version stays readable (audit trail)
        assert sn.read_snapshot(spark, t, version=1).count() == 20
        assert sn.history(t)[-1]["operation"] == "rollback_to_0"

    def test_vacuum_keeps_referenced_segments(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 10), t)     # seg A
        sn.commit(_df(spark, 10, 20), t)    # seg B (v1 = A+B)
        sn.commit(_df(spark, 50, 53), t, mode="overwrite")  # seg C
        deleted = sn.vacuum(t, keep_last=1)
        # v2 references only C: A and B reclaimed, older manifests gone
        assert len(deleted) == 2
        assert sn._versions(t) == [2]
        assert sn.read_snapshot(spark, t).count() == 3

    def test_vacuum_retains_time_travel_window(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 10), t)
        sn.commit(_df(spark, 10, 20), t)
        sn.commit(_df(spark, 50, 53), t, mode="overwrite")
        deleted = sn.vacuum(t, keep_last=2)
        # v1 (A+B) and v2 (C) retained -> nothing reclaimable
        assert deleted == []
        assert sn.read_snapshot(spark, t, version=1).count() == 20

    def test_vacuum_keep_last_validated(self, tmp_path):
        with pytest.raises(ValueError):
            sn.vacuum(str(tmp_path), keep_last=0)


class TestSchemaEvolution:
    def test_additive_column_null_fills_old_segments(self, spark, tmp_path):
        """Appending a segment with an extra column evolves the table:
        a full read surfaces the new column with NULL for pre-evolution
        rows (parquet mergeSchema), and the manifest records the schema
        as of each commit — time travel to the old version shows the
        old shape."""
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        wider = spark.range(5, 8).selectExpr(
            "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
        )
        sn.commit(wider, t)
        full = sn.read_snapshot(spark, t)
        assert set(full.columns) == {"id", "v", "tag"}
        rows = {r["id"]: r["tag"] for r in full.collect()}
        assert rows[0] is None and rows[7] == "7"
        # time travel: the pre-evolution version keeps the old shape
        assert set(sn.read_snapshot(spark, t, version=0).columns) == {
            "id", "v",
        }

    def test_narrower_append_reads_the_union(self, spark, tmp_path):
        """A segment without a column the table already has reads that
        column as NULL: the manifest keeps the union of the schemas."""
        t = str(tmp_path / "tbl")
        sn.commit(
            spark.range(0, 3).selectExpr(
                "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
            ),
            t,
        )
        sn.commit(_df(spark, 3, 5), t)
        full = sn.read_snapshot(spark, t)
        assert full.columns == ["id", "v", "tag"]
        rows = {r["id"]: r["tag"] for r in full.collect()}
        assert rows == {0: "0", 1: "1", 2: "2", 3: None, 4: None}
        assert sn.read_changes(spark, t, from_version=0).columns == [
            "id", "v", "tag",
        ]

    def test_type_conflict_raises_before_publishing(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        clash = spark.range(5, 8).selectExpr("id", "CAST(id AS STRING) AS v")
        with pytest.raises(ValueError, match="'v'"):
            sn.commit(clash, t)
        assert sn.current_version(t) == 0
        assert sn.read_snapshot(spark, t).count() == 5


class TestIncrementalReads:
    def test_read_changes_between_appends(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 10), t)
        sn.commit(_df(spark, 10, 15), t)
        sn.commit(_df(spark, 15, 18), t)
        delta = sn.read_changes(spark, t, from_version=0)
        assert {r["id"] for r in delta.collect()} == set(range(10, 18))
        d12 = sn.read_changes(spark, t, from_version=1, to_version=2)
        assert {r["id"] for r in d12.collect()} == set(range(15, 18))

    def test_read_changes_empty_delta(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        delta = sn.read_changes(spark, t, from_version=0, to_version=0)
        assert delta.count() == 0
        assert delta.columns == ["id", "v"]

    def test_read_changes_rejects_overwrite_in_range(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        sn.commit(_df(spark, 90, 93), t, mode="overwrite")
        with pytest.raises(ValueError, match="non-append"):
            sn.read_changes(spark, t, from_version=0)


class TestStreamingSink:
    def test_exactly_once_across_restart(self, spark, tmp_path):
        """Two micro-batches commit as two versions carrying their
        batch ids; a restart from the same checkpoint with one new
        file commits ONLY the new batch; a simulated replay of an
        already-committed batch id is skipped (no new version)."""
        src = str(tmp_path / "src")
        t = str(tmp_path / "tbl")
        ck = str(tmp_path / "ck")
        _df(spark, 0, 5).coalesce(1).write.mode("append").parquet(src)
        _df(spark, 5, 9).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = sn.write_stream_snapshots(stream, t, ck)
        q.awaitTermination()
        assert sn.read_snapshot(spark, t).count() == 9
        h = sn.history(t)
        assert len(h) == 2
        # restart with a third file: only the new batch commits
        _df(spark, 9, 12).coalesce(1).write.mode("append").parquet(src)
        q2 = sn.write_stream_snapshots(
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            t,
            ck,
        )
        q2.awaitTermination()
        assert sn.read_snapshot(spark, t).count() == 12
        assert len(sn.history(t)) == 3
        # simulated replay of batch 0 must be a no-op
        m0 = sn._load_manifest(t, 0)
        assert m0["stream_batch_id"] == 0
        before = sn.current_version(t)
        # call the foreachBatch body directly with a committed id
        from rust_ruuvitag_etl_spark.sources.snapshots import (
            _load_manifest,
            _versions,
        )

        def replay(batch_df, batch_id):
            for v in _versions(t):
                if _load_manifest(t, v).get("stream_batch_id") == batch_id:
                    return True
            return False

        assert replay(None, 0) is True
        assert sn.current_version(t) == before


class TestClusterBy:
    def test_cluster_by_gives_disjoint_file_ranges(self, spark, tmp_path):
        """After cluster_by('id'), every parquet file owns a disjoint
        id range (repartitionByRange + sortWithinPartitions) — the
        write-side layout that makes min/max zone maps selective."""
        import glob

        t = str(tmp_path / "tbl")
        # deliberately interleaved appends: each segment spans the FULL
        # id domain (evens then odds), the layout zone maps cannot prune
        evens = spark.range(0, 200, 2).selectExpr("id", "id * 2 AS v")
        odds = spark.range(1, 200, 2).selectExpr("id", "id * 2 AS v")
        sn.commit(evens, t)
        sn.commit(odds, t)
        v = sn.cluster_by(spark, t, ["id"], n_files=4)
        m = sn._load_manifest(t, v)
        assert len(m["segments"]) == 1
        files = glob.glob(
            os.path.join(t, m["segments"][0], "part-*.parquet")
        )
        assert len(files) >= 2
        ranges = []
        for f in files:
            d = spark.read.parquet(f).agg(
                {"id": "min"}
            ).collect()[0][0], spark.read.parquet(f).agg(
                {"id": "max"}
            ).collect()[0][0]
            ranges.append(d)
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2  # disjoint, ordered ranges
        # content preserved
        assert sn.read_snapshot(spark, t).count() == 200


class TestLakehousePipeline:
    def test_incremental_dedup_into_snapshot_table(self, spark, tmp_path):
        """The composed lakehouse loop the pieces exist for: a corpus
        lands in a snapshot table; each new crawl is anti-joined
        against the CURRENT snapshot's fingerprints so only novel
        documents commit; read_changes exposes exactly what a crawl
        added; and an all-duplicate crawl commits nothing. The final
        table must equal dedup-from-scratch over all raw crawls."""
        from pyspark.sql import functions as F

        from rust_ruuvitag_etl_spark.functions import text as tf

        t = str(tmp_path / "corpus")

        def docs(rows):
            return spark.createDataFrame(
                rows, "doc_id long, text string"
            )

        crawl1 = docs([(1, "alpha beta gamma"), (2, "delta epsilon")])
        sn.commit(crawl1, t)

        def commit_novel(crawl):
            cur = sn.read_snapshot(spark, t).select(
                tf.fingerprint(F.col("text")).alias("f")
            )
            novel = (
                crawl.withColumn("f", tf.fingerprint(F.col("text")))
                .join(cur, "f", "left_anti")
                .drop("f")
            )
            if novel.count() == 0:
                return None
            return sn.commit(novel, t)

        # crawl 2: one dup of doc 1 (different id, same text), one new
        crawl2 = docs([(10, "alpha beta gamma"), (11, "zeta eta")])
        v = commit_novel(crawl2)
        assert v == 1
        added = sn.read_changes(spark, t, from_version=0)
        assert [(r["doc_id"], r["text"]) for r in added.collect()] == [
            (11, "zeta eta")
        ]

        # crawl 3: nothing novel -> no commit, version unchanged
        crawl3 = docs([(20, "delta epsilon"), (21, "zeta eta")])
        assert commit_novel(crawl3) is None
        assert sn.current_version(t) == 1

        # final table == dedup-from-scratch over all raw crawls
        all_raw = crawl1.unionByName(crawl2).unionByName(crawl3)
        scratch = {
            r["text"]
            for r in all_raw.withColumn(
                "f", tf.fingerprint(F.col("text"))
            ).dropDuplicates(["f"]).collect()
        }
        table_texts = {
            r["text"] for r in sn.read_snapshot(spark, t).collect()
        }
        assert table_texts == scratch


class TestCrashAtomicPublication:
    """Pins the round-6 advice fixes: manifest publication is
    crash-atomic (write-temp + fsync + atomic link claim), orphaned
    temp manifests are vacuumed, empty-table rollback/cluster_by fail
    with a clear error, and the streaming exactly-once guarantee
    survives vacuum via the carried ``stream_batch_hwm``."""

    def test_interrupted_publish_leaves_no_manifest_and_retries(
        self, spark, tmp_path, monkeypatch
    ):
        """A writer killed mid-manifest-write must leave either no
        manifest or a complete one — never a truncated current version
        that poisons reads — and the retry must not be blocked by a
        leftover claim file (the failure mode of in-place open('x'))."""
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)

        real_dump = sn.json.dump

        def killed_mid_dump(obj, f, *a, **k):
            f.write('{"version": 1, "trunca')  # partial bytes on disk
            raise RuntimeError("killed mid-dump")

        monkeypatch.setattr(sn.json, "dump", killed_mid_dump)
        with pytest.raises(RuntimeError, match="killed mid-dump"):
            sn.commit(_df(spark, 5, 9), t)
        monkeypatch.setattr(sn.json, "dump", real_dump)

        # the crash left NO half-visible version: reads still work
        assert sn.current_version(t) == 0
        assert sn.read_snapshot(spark, t).count() == 5
        # and the retry succeeds (version 1 was never claimed)
        assert sn.commit(_df(spark, 5, 9), t) == 1
        assert sn.read_snapshot(spark, t).count() == 9

    def test_orphan_tmp_manifest_reclaimed_by_vacuum(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "tbl")
        sn.commit(_df(spark, 0, 5), t)
        sn.commit(_df(spark, 5, 8), t)
        orphan = os.path.join(sn._manifest_dir(t), ".tmp-orphan.json")
        with open(orphan, "w") as f:
            f.write('{"version"')  # truncated: writer died pre-publish
        sn.vacuum(t, keep_last=1)
        assert not os.path.exists(orphan)
        assert sn.read_snapshot(spark, t).count() == 8

    def test_rollback_empty_table_raises(self, tmp_path):
        with pytest.raises(ValueError, match="no committed versions"):
            sn.rollback(str(tmp_path / "none"), 0)

    def test_cluster_by_empty_table_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="no committed versions"):
            sn.cluster_by(spark, str(tmp_path / "none"), ["id"])

    def test_exactly_once_survives_vacuum(self, spark, tmp_path):
        """vacuum() deletes old manifests; replay detection must NOT
        depend on them. Every commit carries stream_batch_hwm forward,
        so a replayed batch id is skipped by reading ONE manifest even
        after vacuum + interleaved batch commits."""
        src = str(tmp_path / "src")
        t = str(tmp_path / "tbl")
        _df(spark, 0, 5).coalesce(1).write.mode("append").parquet(src)
        _df(spark, 5, 9).coalesce(1).write.mode("append").parquet(src)

        def _stream():
            return (
                spark.readStream.schema("id long, v long")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        q = sn.write_stream_snapshots(_stream(), t, str(tmp_path / "ck1"))
        q.awaitTermination()
        assert sn.read_snapshot(spark, t).count() == 9
        assert sn._load_manifest(t, 1)["stream_batch_hwm"] == 1

        # vacuum away the manifest that recorded batch 0, then commit
        # a plain batch append — the mark must carry through both
        sn.vacuum(t, keep_last=1)
        sn.commit(_df(spark, 100, 101), t)
        cur = sn._load_manifest(t, sn.current_version(t))
        assert cur["stream_batch_hwm"] == 1

        # replay both micro-batches (fresh checkpoint restarts ids at
        # 0): every id <= hwm must be skipped — no double-append
        before = sn.read_snapshot(spark, t).count()
        q2 = sn.write_stream_snapshots(_stream(), t, str(tmp_path / "ck2"))
        q2.awaitTermination()
        assert sn.read_snapshot(spark, t).count() == before
        assert sn.current_version(t) == cur["version"]
