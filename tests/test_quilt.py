"""Quilt YAML DAG tests (reference: tests/test_quilters_quilt.py:24-205)."""

from __future__ import annotations

import os

import pytest

from qsvspark.errors import InvalidArgumentError
from qsvspark.pipeline.quilt import Quilt


@pytest.fixture()
def fixture_dir(tmp_path, simple_csv):
    # place simple.csv next to the YAML (quilt paths are YAML-relative)
    import shutil

    shutil.copy(simple_csv, tmp_path / "simple.csv")
    return tmp_path


def write_yaml(d, text):
    p = d / "q.yaml"
    p.write_text(text)
    return str(p)


class TestQuilt:
    def test_simple_process_chain(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Simple
stages:
  load_data:
    type: process
    steps:
      load:
        path: "simple.csv"
  select_columns:
    type: process
    source: load_data
    steps:
      select:
        colnames:
          - col1
          - str
  filter_data:
    type: process
    source: select_columns
    steps:
      isin:
        colname: str
        values:
          - foo
          - bar
""")
        out = Quilt(spark).run_file(p)
        assert out.columns == ["col1", "str"]
        assert sorted(tuple(r) for r in out.collect()) == [(1, "foo"), (4, "bar")]

    def test_join_stage_with_shared_source(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Join
stages:
  load_stage:
    type: process
    steps:
      load: {path: "simple.csv"}
  stage_1:
    type: process
    source: load_stage
    steps:
      select: {colnames: "datetime,col1"}
  stage_2:
    type: process
    source: load_stage
    steps:
      select: {colnames: "datetime,str"}
  merge_stage:
    type: join
    sources: [stage_1, stage_2]
    params: {how: inner, key: datetime}
""")
        q = Quilt(spark)
        out = q.run_file(p)
        assert sorted(out.columns) == ["col1", "datetime", "str"]
        assert out.count() == 3
        # load_stage had 2 consumers → cached for the run, then
        # RELEASED before run() returned (no leaked storage blocks)
        assert not q.stage_results["load_stage"].is_cached

    def test_concat_stage(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Concat
stages:
  a:
    type: process
    steps:
      load: {path: "simple.csv"}
  b:
    type: process
    steps:
      load: {path: "simple.csv"}
  both:
    type: concat
    sources: [a, b]
""")
        assert Quilt(spark).run_file(p).count() == 6

    def test_cross_join(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Cross
stages:
  a:
    type: process
    steps:
      load: {path: "simple.csv"}
  b:
    type: process
    steps:
      load: {path: "simple.csv"}
  x:
    type: join
    sources: [a, b]
    params: {how: cross}
""")
        assert Quilt(spark).run_file(p).count() == 9

    def test_unknown_stage_reference_errors(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Bad
stages:
  x:
    type: concat
    sources: [nope, nada]
""")
        with pytest.raises(InvalidArgumentError, match="unknown stage reference"):
            Quilt(spark).run_file(p)

    def test_unknown_step_errors(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Bad2
stages:
  a:
    type: process
    steps:
      load: {path: "simple.csv"}
      frobnicate: {}
""")
        with pytest.raises(InvalidArgumentError, match="unknown quilt step"):
            Quilt(spark).run_file(p)

    def test_dump_with_output_override(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Dump
stages:
  a:
    type: process
    steps:
      load: {path: "simple.csv"}
      dump: {output: "ignored.csv"}
""")
        override = str(fixture_dir / "override.csv")
        Quilt(spark).run_file(p, output_override=override)
        assert os.path.exists(override)

    def test_multi_step_process(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Multi
stages:
  a:
    type: process
    steps:
      load: {path: "simple.csv"}
      sed: {colname: str, pattern: "foo", replacement: "FOO"}
      sort: {colnames: "str", desc: true}
      head: {number: 2}
""")
        out = Quilt(spark).run_file(p)
        assert [r["str"] for r in out.collect()] == ["baz", "bar"]

    def test_shared_stage_cache_released_after_run(self, spark, fixture_dir):
        """A stage consumed by >1 later stages is cached for the run and
        UNPERSISTED before run() returns — no leaked storage blocks in a
        long-lived session."""
        p = write_yaml(fixture_dir, """
title: Shared
stages:
  base:
    type: process
    steps:
      load: {path: "simple.csv"}
  left:
    type: process
    source: base
    steps:
      select: {colnames: "col1,str"}
  both:
    type: concat
    sources:
      - base
      - base
""")
        q = Quilt(spark)
        out = q.run_file(p)
        assert out.count() == 6  # base ∪ base
        from pyspark import StorageLevel

        for name, df in q.stage_results.items():
            assert df.storageLevel == StorageLevel.NONE, name


class TestQuiltMaintenanceStages:
    """Table maintenance as DAG stages: one YAML covers ingest AND upkeep
    (snapshot read, compact, tag, rollback, equality delete)."""

    @pytest.fixture()
    def warehouse(self, spark, tmp_path):
        """A catalog with a fragmented 2-snapshot chain: t = 0..199."""
        from pyspark.sql import functions as F

        from qsvspark.io import SnapshotCatalog

        cat = SnapshotCatalog(str(tmp_path / "wh"))
        base = spark.range(100).select(F.col("id"))
        m1 = cat.write(base.repartition(8), "t", input_fingerprint="base")
        delta = spark.range(100, 200).select(F.col("id"))
        cat.write(delta.repartition(8), "t", input_fingerprint="delta",
                  parent=m1["snapshot"])
        return cat, tmp_path

    def test_snapshot_compact_tag_chain(self, spark, warehouse):
        cat, d = warehouse
        files_before = len(cat.data_files("t"))
        p = write_yaml(d, """
stages:
  maintained:
    type: compact
    catalog: wh
    table: t
    params:
      target_file_mb: 64
  pinned:
    type: tag
    catalog: wh
    table: t
    params:
      name: prod
  top:
    type: process
    source: pinned
    steps:
      sort:
        colnames: id
        desc: true
      head: 3
""")
        out = Quilt(spark).run_file(p)
        assert [r[0] for r in out.collect()] == [199, 198, 197]
        assert len(cat.data_files("t")) < files_before  # compact ran
        assert "prod" in cat.tags("t")  # tag pinned post-compact state

    def test_snapshot_read_and_rollback(self, spark, warehouse):
        cat, d = warehouse
        first = cat.history("t")[0]["snapshot"]
        p = write_yaml(d, f"""
stages:
  old:
    type: snapshot
    catalog: wh
    table: t
    params:
      snap: {first}
  back:
    type: rollback
    catalog: wh
    table: t
    params:
      snap: {first}
""")
        out = Quilt(spark).run_file(p)
        assert out.count() == 100  # rollback result = first snapshot
        assert cat.current_snapshot("t") == first

    def test_delete_stage_takes_keys_from_source(self, spark, warehouse):
        cat, d = warehouse
        p = write_yaml(d, """
stages:
  doomed:
    type: snapshot
    catalog: wh
    table: t
  keys:
    type: process
    source: doomed
    steps:
      isin:
        colname: id
        values: [7, 42, 150]
  takedown:
    type: delete
    source: keys
    catalog: wh
    table: t
    params:
      on: [id]  # bare `on` is YAML-1.1 boolean True; the stage accepts both
      fingerprint: rm-3
""")
        out = Quilt(spark).run_file(p)
        assert out.count() == 197
        assert out.where("id in (7, 42, 150)").count() == 0

    def test_maintenance_stage_missing_args_error(self, spark, warehouse):
        _, d = warehouse
        p = write_yaml(d, """
stages:
  bad:
    type: compact
    table: t
""")
        with pytest.raises(InvalidArgumentError, match="catalog"):
            Quilt(spark).run_file(p)


class TestPackStage:
    def test_pack_stage_chunked(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Pack
stages:
  a:
    type: process
    steps:
      load: {path: "simple.csv"}
  packed:
    type: pack
    source: a
    params: {seq_len: 4, n_tok_col: col1, order_col: col2, n_buckets: 2}
""")
        rows = {r["col2"]: r for r in Quilt(spark).run_file(p).collect()}
        # simple.csv: col1 = 1,4,7 (token counts), ordered by col2 = 2,5,8
        assert rows[2]["global_offset"] == 0 and rows[2]["first_seq"] == 0
        assert rows[5]["global_offset"] == 1 and rows[5]["last_seq"] == 1
        assert rows[8]["global_offset"] == 5 and rows[8]["spans_boundary"] == 1

    def test_pack_stage_greedy(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: PackGreedy
stages:
  a:
    type: process
    steps:
      load: {path: "simple.csv"}
  packed:
    type: pack
    source: a
    params: {seq_len: 8, n_tok_col: col1, id_col: col2, mode: greedy,
             num_partitions: 1}
""")
        out = Quilt(spark).run_file(p).collect()
        assert sorted(r["col2"] for r in out) == [2, 5, 8]
        assert all(r["oversized"] == 0 for r in out)

    def test_pack_stage_greedy_group_cols_and_oversized(self, spark, fixture_dir):
        # ADVICE r4: the sink-grouped layout + oversized policy must be
        # expressible from a YAML DAG, same plumbing pack_sinks uses
        p = write_yaml(fixture_dir, """
title: PackGrouped
stages:
  a:
    type: process
    steps:
      load: {path: "simple.csv"}
  packed:
    type: pack
    source: a
    params: {seq_len: 5, n_tok_col: col1, id_col: col2, mode: greedy,
             num_partitions: 1, group_cols: [str], oversized: split}
""")
        out = Quilt(spark).run_file(p).collect()
        # col1 = 1,4,7 with groups foo/bar/baz: each doc packs alone in
        # its group; the 7-token doc (> seq_len 5) splits into 5+2
        by_doc: dict = {}
        for r in out:
            by_doc.setdefault(r["col2"], []).append(r)
        assert len(by_doc[8]) == 2  # split oversized doc
        parts = sorted((r["part_start"], r["part_len"]) for r in by_doc[8])
        assert parts == [(0, 5), (5, 2)]
        # group purity: no sequence mixes str values
        seq_groups: dict = {}
        for r in out:
            seq_groups.setdefault(r["seq_id"], set()).add(r["str"])
        assert all(len(g) == 1 for g in seq_groups.values())

    def test_pack_stage_needs_source(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
stages:
  bad:
    type: pack
    params: {seq_len: 4}
""")
        with pytest.raises(InvalidArgumentError, match="source"):
            Quilt(spark).run_file(p)


class TestHygieneStage:
    def test_hygiene_signals_and_filter(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: Hygiene
stages:
  docs:
    type: process
    steps:
      load: {path: "/root/testdata/sf0.001/documents.parquet"}
  clean:
    type: hygiene
    source: docs
    params:
      signals: [quality, repetition, line_dups]
      filter: "q_score >= 0.5 AND top_word_count <= total_words"
""")
        out = Quilt(spark).run_file(p)
        cols = set(out.columns)
        assert {"q_score", "top_word_count", "dup_line_frac"} <= cols
        n = out.count()
        assert 0 < n <= 500
        assert out.filter("q_score < 0.5").count() == 0

    def test_hygiene_unknown_family_errors(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
stages:
  docs:
    type: process
    steps:
      load: {path: "/root/testdata/sf0.001/documents.parquet"}
  bad:
    type: hygiene
    source: docs
    params: {signals: [nope]}
""")
        with pytest.raises(InvalidArgumentError, match="nope"):
            Quilt(spark).run_file(p)


class TestSemdedupStage:
    def test_semdedup_keeps_survivors(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
title: SemDedup
stages:
  emb:
    type: process
    steps:
      load: {path: "/root/testdata/sf0.001/embeddings.parquet"}
  deduped:
    type: semdedup
    source: emb
    params: {threshold: 0.45, n_centroids: 8, sample_n: 128}
""")
        out = Quilt(spark).run_file(p)
        total = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet").count()
        kept = out.count()
        assert 0 < kept < total  # some dups dropped at this threshold
        assert set(out.columns) == {"vec_id", "embedding", "label"}

    def test_semdedup_flag_mode(self, spark, fixture_dir):
        p = write_yaml(fixture_dir, """
stages:
  emb:
    type: process
    steps:
      load: {path: "/root/testdata/sf0.001/embeddings.parquet"}
  flags:
    type: semdedup
    source: emb
    params: {threshold: 0.45, n_centroids: 8, sample_n: 128,
             keep_only: false, method: expr}
""")
        out = Quilt(spark).run_file(p)
        rows = out.collect()
        assert {r["kept"] for r in rows} == {True, False}
        assert len(rows) == 500
