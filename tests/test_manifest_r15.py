"""r15 manifest features: per-file Bloom point-lookup pruning,
column renames via stable column IDs, and timestamp time travel
(VERDICT r14 asks #1, #5, #6)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.io.manifest import (
    SchemaEvolutionError,
    _bloom_pack,
    _bloom_py_positions,
    _bloom_test,
    commit_append,
    commit_delete,
    commit_rename,
    commit_rewrite,
    current_version,
    manifest_files,
    read_changes,
    read_table,
    read_table_pruned,
    resolve_as_of,
    table_schema,
    vacuum,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="spark_graft_r15_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _kv(spark, lo, hi, parts=2):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
        )
        .repartition(parts)
    )


# ---------------------------------------------------------------- bloom


class TestBloomPacking:
    def test_pack_probe_roundtrip(self):
        m = 256
        vals = [1, 7, 12345, "abc"]
        pos = [p for v in vals for p in _bloom_py_positions(v, m)]
        hx = _bloom_pack(pos, m)
        assert len(hx) == m // 4
        for v in vals:
            assert _bloom_test(hx, m, v)
        # an all-zero bitmap contains nothing
        assert not _bloom_test(_bloom_pack([], m), m, 1)

    def test_jvm_python_hash_parity(self, spark):
        """The JVM build positions equal the driver probe positions
        for every supported type — the one cross-engine surface."""
        from automated_etl_pipeline_spark.functions.hashutil import (
            md5_double_hash,
        )

        m = 512
        df = spark.createDataFrame(
            [Row(i=42, s="hello", d="2020-03-04")]
        ).select(
            "i", "s", F.col("d").cast("date").alias("d")
        )
        for c, pyv in [("i", 42), ("s", "hello")]:
            h1, h2 = md5_double_hash(F.col(c))
            jvm = df.select(
                *[((h1 + F.lit(i) * h2) % m).alias(f"p{i}") for i in range(4)]
            ).collect()[0]
            assert [jvm[f"p{i}"] for i in range(4)] == _bloom_py_positions(
                pyv, m
            )
        import datetime

        h1, h2 = md5_double_hash(F.col("d"))
        jvm = df.select(
            *[((h1 + F.lit(i) * h2) % m).alias(f"p{i}") for i in range(4)]
        ).collect()[0]
        assert [jvm[f"p{i}"] for i in range(4)] == _bloom_py_positions(
            datetime.date(2020, 3, 4), m
        )

    def test_packed_word_fold_matches_python_packer(self, spark, root):
        """r15 opt: the codegen bit_or packed-word build must produce
        the BYTE-IDENTICAL hexmap the Python packer yields over the
        same keys."""
        import glob
        import json
        import os

        from automated_etl_pipeline_spark.io.manifest import (
            _collect_file_metadata,
            stage_dir,
        )

        vals = list(range(50, 80)) + [999]
        stage = stage_dir(root)
        spark.createDataFrame([Row(k=v) for v in vals]).coalesce(
            1
        ).write.parquet(stage)
        files = sorted(glob.glob(os.path.join(stage, "*.parquet")))
        assert len(files) == 1
        _, refs = _collect_file_metadata(spark, files, [], ["k"], 256)
        built = json.load(open(refs[files[0]]))[files[0]]["k"]
        expect = _bloom_pack(
            {p for v in vals for p in _bloom_py_positions(v, 256)}, 256
        )
        assert built == expect

    def test_point_lookup_prunes_and_is_exact(self, spark, root):
        for i in range(4):
            commit_append(
                _kv(spark, i * 100, (i + 1) * 100, parts=2),
                root,
                f"a{i}",
                bloom_cols=["k"],
                bloom_bits=2048,
            )
        total = len(manifest_files(root))
        assert total == 8
        # present key: exact one-row answer, scans a strict subset
        df, n_total, n_scan = read_table_pruned(spark, root, eq={"k": 250})
        assert n_total == 8 and 1 <= n_scan < 8
        rows = df.filter(F.col("k") == 250).collect()
        assert [(r["k"], r["v"]) for r in rows] == [(250, 2500)]
        # absent key: with 100 keys/file in 2048 bits fp is tiny
        df, _, n_scan_abs = read_table_pruned(spark, root, eq={"k": 99999})
        assert n_scan_abs <= 2
        assert df.filter(F.col("k") == 99999).count() == 0
        # IN-list across appends
        df, _, n_in = read_table_pruned(spark, root, eq={"k": [5, 305]})
        got = sorted(
            (r["k"], r["v"])
            for r in df.filter(F.col("k").isin([5, 305])).collect()
        )
        assert got == [(5, 50), (305, 3050)] and n_in < 8

    def test_bloom_with_pending_deletes(self, spark, root):
        commit_append(
            _kv(spark, 0, 100), root, "a0", bloom_cols=["k"], bloom_bits=2048
        )
        commit_append(
            _kv(spark, 100, 200), root, "a1", bloom_cols=["k"], bloom_bits=2048
        )
        commit_delete(
            spark.createDataFrame([Row(k=50)]), root, "d0", ["k"]
        )
        df, _, _ = read_table_pruned(spark, root, eq={"k": 50})
        assert df.filter(F.col("k") == 50).count() == 0
        df, _, _ = read_table_pruned(spark, root, eq={"k": 51})
        assert df.filter(F.col("k") == 51).count() == 1

    def test_bloom_type_guard(self, spark, root):
        df = spark.createDataFrame([Row(k=1, x=1.5)])
        with pytest.raises(ValueError, match="CAST-to-string-stable"):
            commit_append(df, root, "a0", bloom_cols=["x"])

    def test_bloom_geometry_pinned(self, spark, root):
        commit_append(
            _kv(spark, 0, 10), root, "a0", bloom_cols=["k"], bloom_bits=2048
        )
        with pytest.raises(ValueError, match="bitmap geometry"):
            commit_append(
                _kv(spark, 10, 20),
                root,
                "a1",
                bloom_cols=["k"],
                bloom_bits=4096,
            )

    def test_bloom_bits_must_be_word_multiple(self, spark, root):
        """Bitmaps are built and stored as whole 64-bit words: a
        bloom_bits that is not a positive multiple of 64 is refused by
        name before anything is staged or committed."""
        import os

        for bits in (100, 0, -64):
            with pytest.raises(ValueError, match=f"bloom_bits={bits} "):
                commit_append(
                    _kv(spark, 0, 10), root, "a0", bloom_cols=["k"],
                    bloom_bits=bits,
                )
        assert current_version(root) == 0
        assert not os.path.exists(os.path.join(root, "data"))

    def test_unbloomed_commit_keeps_file_readable(self, spark, root):
        """A commit without bloom_cols on a bloom table: its files
        carry no bitmap and are conservatively scanned, never
        skipped."""
        commit_append(
            _kv(spark, 0, 100), root, "a0", bloom_cols=["k"], bloom_bits=2048
        )
        commit_append(_kv(spark, 100, 200), root, "a1")  # no blooms
        df, n_total, n_scan = read_table_pruned(spark, root, eq={"k": 150})
        assert df.filter(F.col("k") == 150).count() == 1
        # the unbloomed files must all have been scanned
        assert n_scan >= 2


# --------------------------------------------------------------- rename


class TestColumnRename:
    def test_rename_resolves_old_files(self, spark, root):
        commit_append(_kv(spark, 0, 50), root, "a0")
        commit_rename(root, "r0", {"v": "value"})
        commit_append(
            spark.range(50, 100).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("value")
            ),
            root,
            "a1",
        )
        out = read_table(spark, root)
        assert set(out.columns) == {"k", "value"}
        # pre-rename rows surface their data under the NEW name —
        # the whole point vs drop+add
        assert out.filter(F.col("value").isNull()).count() == 0
        assert out.filter(
            (F.col("k") == 10) & (F.col("value") == 100)
        ).count() == 1
        assert out.count() == 100

    def test_rename_is_not_drop_add(self, spark, root):
        """After renaming v->value, appending a NEW column named v
        creates a fresh column: old files' physical 'v' bytes must NOT
        leak into it."""
        commit_append(_kv(spark, 0, 50), root, "a0")
        commit_rename(root, "r0", {"v": "value"})
        commit_append(
            spark.range(50, 60).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("value"),
                F.lit("fresh").alias("v"),
            ),
            root,
            "a1",
        )
        out = read_table(spark, root)
        assert set(out.columns) == {"k", "value", "v"}
        old = out.filter(F.col("k") < 50)
        assert old.filter(F.col("v").isNotNull()).count() == 0
        assert old.filter(F.col("value").isNull()).count() == 0

    def test_rename_swap(self, spark, root):
        commit_append(
            spark.createDataFrame([Row(a=1, b=2)]), root, "a0"
        )
        commit_rename(root, "r0", {"a": "b", "b": "a"})
        row = read_table(spark, root).collect()[0]
        assert row["b"] == 1 and row["a"] == 2

    def test_rename_validation(self, spark, root):
        commit_append(_kv(spark, 0, 10), root, "a0")
        with pytest.raises(SchemaEvolutionError, match="not a table column"):
            commit_rename(root, "r1", {"zzz": "y"})
        with pytest.raises(SchemaEvolutionError, match="already exists"):
            commit_rename(root, "r2", {"v": "k"})
        with pytest.raises(SchemaEvolutionError, match="same target"):
            commit_rename(root, "r3", {"v": "x", "k": "x"})

    def test_rename_idempotent_and_metadata_only(self, spark, root):
        commit_append(_kv(spark, 0, 10), root, "a0")
        files_before = manifest_files(root)
        v1 = commit_rename(root, "r0", {"v": "value"})
        assert commit_rename(root, "r0", {"v": "value"}) == v1
        assert manifest_files(root) == files_before
        assert current_version(root) == v1

    def test_rename_with_pending_delete(self, spark, root):
        commit_append(_kv(spark, 0, 100), root, "a0")
        commit_delete(
            spark.createDataFrame([Row(v=100)]), root, "d0", ["v"]
        )
        commit_rename(root, "r0", {"v": "value"})
        out = read_table(spark, root)
        assert out.filter(F.col("value") == 100).count() == 0  # k=10 gone
        assert out.count() == 99

    def test_rename_stats_and_blooms_follow(self, spark, root):
        for i in range(3):
            commit_append(
                _kv(spark, i * 100, (i + 1) * 100),
                root,
                f"a{i}",
                stats_cols=["k"],
                bloom_cols=["k"],
                bloom_bits=2048,
            )
        commit_rename(root, "r0", {"k": "key"})
        df, n_total, n_scan = read_table_pruned(
            spark, root, predicates={"key": (250, 260)}, eq={"key": 250}
        )
        assert n_scan < n_total
        assert df.filter(F.col("key") == 250).count() == 1

    def test_read_changes_across_rename(self, spark, root):
        commit_append(_kv(spark, 0, 50), root, "a0")
        v1 = current_version(root)
        commit_rename(root, "r0", {"v": "value"})
        commit_append(
            spark.range(50, 80).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("value")
            ),
            root,
            "a1",
        )
        delta = read_changes(spark, root, v1, current_version(root))
        assert delta.count() == 30
        assert set(delta.columns) == {"k", "value"}

    def test_schema_evolution_still_rejects_type_change(self, spark, root):
        commit_append(_kv(spark, 0, 10), root, "a0")
        commit_rename(root, "r0", {"v": "value"})
        with pytest.raises(SchemaEvolutionError, match="type changes"):
            commit_append(
                spark.createDataFrame([Row(k=99, value="oops")]),
                root,
                "a1",
            )

    def test_table_schema_reflects_rename(self, spark, root):
        commit_append(_kv(spark, 0, 10), root, "a0")
        commit_rename(root, "r0", {"v": "value"})
        names = [f.name for f in table_schema(root).fields]
        assert names == ["k", "value"]


# ---------------------------------------------------------- time travel


class TestTimestampTimeTravel:
    def test_as_of_resolution(self, spark, root):
        commit_append(_kv(spark, 0, 10), root, "a0", commit_ts=100.0)
        commit_append(_kv(spark, 10, 20), root, "a1", commit_ts=200.0)
        commit_append(_kv(spark, 20, 30), root, "a2", commit_ts=300.0)
        assert resolve_as_of(root, 250.0) == 2
        assert resolve_as_of(root, 200.0) == 2  # inclusive
        assert resolve_as_of(root, 1e9) == 3
        assert read_table(spark, root, as_of_ts=250.0).count() == 20
        assert read_table(spark, root, as_of_ts=100.0).count() == 10

    def test_as_of_before_first_raises(self, spark, root):
        commit_append(_kv(spark, 0, 10), root, "a0", commit_ts=100.0)
        with pytest.raises(ValueError, match="predates"):
            resolve_as_of(root, 50.0)

    def test_version_and_as_of_exclusive(self, spark, root):
        commit_append(_kv(spark, 0, 10), root, "a0", commit_ts=100.0)
        with pytest.raises(ValueError, match="not both"):
            read_table(spark, root, version=1, as_of_ts=100.0)

    def test_clock_skew_clamps_monotonic(self, spark, root):
        commit_append(_kv(spark, 0, 10), root, "a0", commit_ts=500.0)
        commit_append(_kv(spark, 10, 20), root, "a1", commit_ts=100.0)
        # the second commit clamps forward to 500: as-of 400 must NOT
        # see it (it was committed "later" in the table's own order)
        with pytest.raises(ValueError, match="predates"):
            resolve_as_of(root, 400.0)
        assert resolve_as_of(root, 500.0) == 2

    def test_vacuum_expired_as_of_raises(self, spark, root):
        for i in range(10):
            commit_append(
                _kv(spark, i * 10, (i + 1) * 10),
                root,
                f"a{i}",
                commit_ts=100.0 * (i + 1),
            )
        # rewrite so old files become reclaimable, then expire history
        commit_rewrite(
            read_table(spark, root), root, "rw", commit_ts=2000.0
        )
        vacuum(root, keep_last=1, min_orphan_age_s=0.0)
        with pytest.raises(ValueError, match="retention|predates"):
            resolve_as_of(root, 150.0)
        # the retained snapshot still resolves
        assert read_table(
            spark, root, as_of_ts=2000.0
        ).count() == 100

    def test_default_ts_is_wallclock_monotonic(self, spark, root):
        import time

        t0 = time.time() - 1.0
        commit_append(_kv(spark, 0, 10), root, "a0")
        commit_append(_kv(spark, 10, 20), root, "a1")
        v = resolve_as_of(root, time.time() + 1.0)
        assert v == 2
        with pytest.raises(ValueError, match="predates"):
            resolve_as_of(root, t0 - 3600.0)


class TestTimeBasedRetention:
    def test_read_changes_ts(self, spark, root):
        from automated_etl_pipeline_spark.io.manifest import read_changes_ts

        commit_append(_kv(spark, 0, 10), root, "a0", commit_ts=100.0)
        commit_append(_kv(spark, 10, 30), root, "a1", commit_ts=200.0)
        commit_append(_kv(spark, 30, 60), root, "a2", commit_ts=300.0)
        assert read_changes_ts(spark, root, 100.0, 300.0).count() == 50
        assert read_changes_ts(spark, root, 100.0, 250.0).count() == 20
        # identical endpoints: empty delta, schema preserved
        empty = read_changes_ts(spark, root, 200.0, 200.0)
        assert empty.count() == 0 and set(empty.columns) == {"k", "v"}
        with pytest.raises(ValueError, match="before"):
            read_changes_ts(spark, root, 300.0, 100.0)

    def test_vacuum_time_retention_keeps_as_of(self, spark, root):
        for i in range(10):
            commit_append(
                _kv(spark, i * 10, (i + 1) * 10),
                root,
                f"a{i}",
                commit_ts=100.0 * (i + 1),
            )
        # keep_last=1 alone would expire everything below v10; the
        # time retain point at ts=450 must keep the as-of-450 snapshot
        # (v4) and newer readable — possibly more, since vacuum only
        # drops below a checkpoint anchor (documented extra retention
        # of at most CHECKPOINT_EVERY-1 versions)
        vacuum(root, keep_last=1, min_orphan_age_s=0.0, retain_as_of_ts=450.0)
        assert read_table(spark, root, as_of_ts=450.0).count() == 40
        assert resolve_as_of(root, 450.0) == 4
        # a retain point right above the v8 checkpoint anchors there:
        # v1..v7 go, and a sub-retention as-of now raises
        vacuum(root, keep_last=1, min_orphan_age_s=0.0, retain_as_of_ts=900.0)
        assert read_table(spark, root, as_of_ts=900.0).count() == 90
        with pytest.raises(ValueError, match="retention|predates"):
            resolve_as_of(root, 150.0)

    def test_vacuum_retain_before_creation_keeps_all(self, spark, root):
        for i in range(5):
            commit_append(
                _kv(spark, i * 10, (i + 1) * 10),
                root,
                f"a{i}",
                commit_ts=100.0 * (i + 1),
            )
        vacuum(root, keep_last=1, min_orphan_age_s=0.0, retain_as_of_ts=1.0)
        assert read_table(spark, root, version=1).count() == 10


class TestTableHistory:
    def test_history_shape(self, spark, root):
        from automated_etl_pipeline_spark.io.manifest import (
            commit_delete as _cd,
            table_history,
        )

        commit_append(_kv(spark, 0, 10), root, "a0", commit_ts=100.0)
        commit_append(_kv(spark, 10, 20), root, "a1", commit_ts=200.0)
        _cd(spark.createDataFrame([Row(k=5)]), root, "d0", ["k"])
        commit_rename(root, "r0", {"v": "value"})
        h = table_history(root)
        assert [r["version"] for r in h] == [4, 3, 2, 1]
        assert [r["kind"] for r in h] == ["rename", "delete", "append", "append"]
        assert h[-1]["checkpoint"] is True and h[-1]["ts"] == 100.0
        assert h[0]["checkpoint"] is True  # renames checkpoint
        assert h[0]["run_id"] == "r0"
        assert h[2]["run_id"] == "a1" and h[2]["n_added"] == 2
        assert table_history(root, limit=2)[-1]["version"] == 3

    def test_streaming_committer_threads_metadata(self, spark, root):
        from automated_etl_pipeline_spark.io.manifest import (
            read_table_pruned,
        )
        from automated_etl_pipeline_spark.streaming.manifest_sink import (
            manifest_batch_committer,
        )

        commit = manifest_batch_committer(
            root, "q", stats_cols=["k"], bloom_cols=["k"], bloom_bits=2048
        )
        commit(_kv(spark, 0, 100), 0)
        commit(_kv(spark, 100, 200), 1)
        commit(_kv(spark, 100, 200), 1)  # replay no-ops
        assert current_version(root) == 2
        df, n_total, n_scan = read_table_pruned(spark, root, eq={"k": 150})
        assert df.filter(F.col("k") == 150).count() == 1
        assert n_scan < n_total  # streamed commits carried bitmaps


class TestBloomSidecars:
    def test_checkpoint_stays_small(self, spark, root):
        """Bitmaps must live in sidecar files, not checkpoint JSON —
        inline bitmaps would make every checkpoint O(files x m/8)
        bytes and defeat the delta-log write-amplification cap."""
        import json as _json
        import os as _os

        from automated_etl_pipeline_spark.io.manifest import _manifest_dir

        for i in range(8):  # v8 is a checkpoint
            commit_append(
                _kv(spark, i * 50, (i + 1) * 50),
                root,
                f"a{i}",
                bloom_cols=["k"],
                bloom_bits=8192,
            )
        ck = _json.loads(
            open(
                _os.path.join(_manifest_dir(root), f"v{8:010d}.json")
            ).read()
        )
        assert "files" in ck  # it IS a checkpoint
        assert "blooms" not in ck  # no inline bitmaps
        refs = ck["bloom_refs"]
        assert set(refs) == set(ck["files"])
        # 16 files x 8192 bits inline would be ~33 KB of hex; the
        # checkpoint carries only paths (~2 tmp paths' worth per file)
        assert len(_json.dumps(refs)) < 8000
        # and the sidecars themselves hold probe-able bitmaps
        df, n_total, n_scan = read_table_pruned(spark, root, eq={"k": 123})
        assert df.filter(F.col("k") == 123).count() == 1
        assert n_scan < n_total

    def test_vacuum_reclaims_sidecars_with_stage(self, spark, root):
        import glob as _glob

        commit_append(
            _kv(spark, 0, 100), root, "a0", bloom_cols=["k"], bloom_bits=2048
        )
        commit_append(
            _kv(spark, 100, 200), root, "a1", bloom_cols=["k"], bloom_bits=2048
        )
        assert len(_glob.glob(f"{root}/data/*/blooms-*.json")) == 2
        # rewrite supersedes every old file; vacuum reclaims stages
        # (and their sidecars) outside retention
        commit_rewrite(read_table(spark, root), root, "rw")
        vacuum(root, keep_last=1, min_orphan_age_s=0.0)
        assert len(_glob.glob(f"{root}/data/*/blooms-*.json")) == 0
        assert read_table(spark, root).count() == 200

    def test_rename_then_probe_through_sidecar(self, spark, root):
        """Sidecar bitmaps key by PHYSICAL column names; a probe on
        the renamed CURRENT name must translate through the column-id
        mapping and still prune."""
        commit_append(
            _kv(spark, 0, 100), root, "a0", bloom_cols=["k"], bloom_bits=2048
        )
        commit_append(
            _kv(spark, 100, 200), root, "a1", bloom_cols=["k"], bloom_bits=2048
        )
        commit_rename(root, "r0", {"k": "key"})
        commit_append(
            spark.range(200, 300).select(
                F.col("id").alias("key"), (F.col("id") * 10).alias("v")
            ),
            root,
            "a2",
            bloom_cols=["key"],
            bloom_bits=2048,
        )
        # probe a pre-rename key under the NEW name: the first two
        # commits' sidecars must answer through the id mapping
        df, n_total, n_scan = read_table_pruned(spark, root, eq={"key": 50})
        assert df.filter(F.col("key") == 50).count() == 1
        assert n_scan < n_total
        # post-rename commit's sidecar answers under its own name too
        df, _, _ = read_table_pruned(spark, root, eq={"key": 250})
        assert df.filter(F.col("key") == 250).count() == 1


class TestAtomicUpsert:
    def test_upsert_replaces_and_inserts_one_version(self, spark, root):
        from automated_etl_pipeline_spark.io.manifest import commit_upsert

        commit_append(_kv(spark, 0, 100), root, "a0")
        # new state for keys 50..149: replace 50..99, insert 100..149
        up = spark.range(50, 150).select(
            F.col("id").alias("k"), (F.col("id") * 1000).alias("v")
        )
        v = commit_upsert(up, root, "u0", ["k"])
        assert v == 2 and current_version(root) == 2
        out = read_table(spark, root)
        assert out.count() == 150
        # replaced key reads the NEW value exactly once
        rows = out.filter(F.col("k") == 75).collect()
        assert [(r["k"], r["v"]) for r in rows] == [(75, 75000)]
        # untouched key keeps the old value
        assert out.filter(F.col("k") == 10).collect()[0]["v"] == 100
        # inserted key present
        assert out.filter(F.col("k") == 149).collect()[0]["v"] == 149000

    def test_upsert_merge_gate_on_empty_orders(self, spark, tmp_path):
        """The ``manifest_upsert_merge`` gate on an EMPTY orders table
        (the sf0.001 schema, zero rows) matches its oracle instead of
        crashing on the NULL sums of an empty aggregate."""
        import pyarrow.parquet as pq

        from automated_etl_pipeline_spark.queries_ext import (
            _UPSERT_MERGE_ORACLE,
            manifest_upsert_merge,
        )
        from tests.test_probes import SF_DIR, _check_against

        src = pq.read_table(f"{SF_DIR}/orders.parquet")
        pq.write_table(src.slice(0, 0), str(tmp_path / "orders.parquet"))
        _check_against(
            spark, "manifest_upsert_merge", str(tmp_path),
            manifest_upsert_merge, _UPSERT_MERGE_ORACLE,
        )

    def test_upsert_idempotent_replay(self, spark, root):
        from automated_etl_pipeline_spark.io.manifest import commit_upsert

        commit_append(_kv(spark, 0, 50), root, "a0")
        up = spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        )
        v1 = commit_upsert(up, root, "u0", ["k"])
        v2 = commit_upsert(up, root, "u0", ["k"])  # replay
        assert v1 == v2 == current_version(root)
        assert read_table(spark, root).count() == 50
        assert read_table(spark, root).filter(F.col("v") == 7).count() == 10

    def test_upsert_cdf_and_incremental_mv(self, spark, root):
        """An upsert with recorded changes serves the change feed as
        delete+insert rows, and the incremental MV folds it without a
        full recompute."""
        from automated_etl_pipeline_spark.io.manifest import (
            commit_upsert,
            read_changes_cdf,
        )
        from automated_etl_pipeline_spark.io.mv import IncrementalAggView
        import tempfile as _tf
        import shutil as _sh

        mv_root = _tf.mkdtemp(prefix="spark_graft_upmv_")
        try:
            commit_append(_kv(spark, 0, 100), root, "a0")
            view = IncrementalAggView(
                root, mv_root, ["k"], sum_cols={"sv": "v"}
            )
            assert view.refresh(spark)["mode"] in ("incremental", "full")
            up = spark.range(90, 120).select(
                F.col("id").alias("k"), (F.col("id") * 1000).alias("v")
            )
            commit_upsert(up, root, "u0", ["k"], record_changes=True)
            cdf = read_changes_cdf(spark, root, 1, 2)
            ins = cdf.filter(F.col("_change_type") == "insert").count()
            dels = cdf.filter(F.col("_change_type") == "delete").count()
            assert ins == 30 and dels == 10  # 90..99 replaced, 30 new rows
            res = view.refresh(spark)
            assert res["mode"] == "incremental_cdf"
            got = view.read(spark).agg(F.sum("sv")).collect()[0][0]
            want = (
                read_table(spark, root)
                .agg(F.sum(F.col("v").cast("decimal(18,2)")))
                .collect()[0][0]
            )
            assert float(got) == float(want)
        finally:
            _sh.rmtree(mv_root, ignore_errors=True)

    def test_upsert_unrecorded_breaks_plain_change_feed(self, spark, root):
        from automated_etl_pipeline_spark.io.manifest import commit_upsert

        commit_append(_kv(spark, 0, 50), root, "a0")
        commit_upsert(
            spark.range(0, 5).select(
                F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
            ),
            root,
            "u0",
            ["k"],
        )
        with pytest.raises(ValueError, match="not representable"):
            read_changes(spark, root, 1, 2)

    def test_upsert_carries_bloom_sidecars(self, spark, root):
        from automated_etl_pipeline_spark.io.manifest import commit_upsert

        commit_append(
            _kv(spark, 0, 100), root, "a0", bloom_cols=["k"], bloom_bits=2048
        )
        commit_upsert(
            spark.range(100, 200).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root,
            "u0",
            ["k"],
            bloom_cols=["k"],
            bloom_bits=2048,
        )
        df, n_total, n_scan = read_table_pruned(spark, root, eq={"k": 150})
        assert df.filter(F.col("k") == 150).count() == 1
        assert n_scan < n_total

    def test_upsert_reinsert_then_delete_sequence(self, spark, root):
        """Sequence-rule composition: delete at v2 hides v1 rows; an
        upsert at v3 re-inserts the key; the v2 delete must NOT reach
        the v3 row."""
        from automated_etl_pipeline_spark.io.manifest import commit_upsert

        commit_append(_kv(spark, 0, 10), root, "a0")
        commit_delete(spark.createDataFrame([Row(k=3)]), root, "d0", ["k"])
        assert read_table(spark, root).filter(F.col("k") == 3).count() == 0
        commit_upsert(
            spark.createDataFrame([Row(k=3, v=333)]).select(
                F.col("k").cast("long"), F.col("v").cast("long")
            ),
            root,
            "u0",
            ["k"],
        )
        rows = read_table(spark, root).filter(F.col("k") == 3).collect()
        assert [(r["k"], r["v"]) for r in rows] == [(3, 333)]

    def test_upsert_across_checkpoint_replay(self, spark, root):
        """Upsert deltas must replay identically through a checkpoint
        resolution (versions on both sides of CHECKPOINT_EVERY)."""
        from automated_etl_pipeline_spark.io.manifest import commit_upsert

        for i in range(7):
            commit_append(_kv(spark, i * 10, (i + 1) * 10), root, f"a{i}")
        commit_upsert(  # v8: checkpoint version
            spark.range(0, 5).select(
                F.col("id").alias("k"), F.lit(111).cast("long").alias("v")
            ),
            root,
            "u8",
            ["k"],
        )
        commit_upsert(  # v9: delta version
            spark.range(3, 8).select(
                F.col("id").alias("k"), F.lit(222).cast("long").alias("v")
            ),
            root,
            "u9",
            ["k"],
        )
        out = read_table(spark, root)
        assert out.count() == 70
        assert out.filter((F.col("k") == 1) & (F.col("v") == 111)).count() == 1
        assert out.filter((F.col("k") == 4) & (F.col("v") == 222)).count() == 1
        assert out.filter((F.col("k") == 3) & (F.col("v") == 111)).count() == 0

    def test_streaming_upsert_committer(self, spark, root):
        """Exactly-once streaming MERGE: per-batch atomic upserts,
        replay no-ops, final state = last write per key."""
        from automated_etl_pipeline_spark.streaming.manifest_sink import (
            manifest_upsert_committer,
        )

        commit = manifest_upsert_committer(root, ["k"], "cdc")
        commit(_kv(spark, 0, 50), 0)
        up = spark.range(40, 60).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
        )
        commit(up, 1)
        commit(up, 1)  # scheduler replay: must no-op
        assert current_version(root) == 2
        out = read_table(spark, root)
        assert out.count() == 60
        assert out.filter(F.col("v") == 9).count() == 20
        assert out.filter((F.col("k") == 10) & (F.col("v") == 100)).count() == 1

    def test_compaction_preserves_bloom_pruning(self, spark, root):
        from automated_etl_pipeline_spark.io.manifest import (
            compact_small_files,
        )

        for i in range(4):
            commit_append(
                _kv(spark, i * 50, (i + 1) * 50, parts=2),
                root,
                f"a{i}",
                bloom_cols=["k"],
                bloom_bits=2048,
            )
        v, n = compact_small_files(
            spark,
            root,
            "cmp",
            max_bytes=10_000_000,
            target_files=2,
            bloom_cols=["k"],
            bloom_bits=2048,
        )
        assert n == 8
        df, n_total, n_scan = read_table_pruned(spark, root, eq={"k": 120})
        assert df.filter(F.col("k") == 120).count() == 1
        # 2 merged files: the probe must not scan both unless fp
        assert n_total == 2 and n_scan >= 1
