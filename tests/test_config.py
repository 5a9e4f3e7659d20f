"""YAML config surface (reference convert.py:185-224 / utils.py:30-89
UX parity): load, validate, reject unknown keys, round-trip, and one
end-to-end job run driven entirely by a config file."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from pdfwf_spark.config import ExtractConfig

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_from_yaml_defaults_and_overrides(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text("input: /in.parquet\noutput: /out\nbuckets: 128\n"
                 "markdown_compat: true\n")
    cfg = ExtractConfig.from_yaml(p)
    assert cfg.buckets == 128 and cfg.markdown_compat is True
    assert cfg.partitions is None and cfg.resume is True    # defaults survive


def test_from_yaml_rejects_unknown_keys(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text("input: /a\noutput: /b\nbucketz: 9\n")
    with pytest.raises(ValueError, match="unknown config keys.*bucketz"):
        ExtractConfig.from_yaml(p)


def test_validation():
    with pytest.raises(ValueError, match="non-empty"):
        ExtractConfig(input="", output="/o")
    with pytest.raises(ValueError, match="buckets"):
        ExtractConfig(input="/i", output="/o", buckets=0)


def test_yaml_round_trip(tmp_path):
    cfg = ExtractConfig(input="/i.parquet", output="/o", buckets=32,
                        limit=100, markdown_compat=True)
    p = tmp_path / "rt.yaml"
    cfg.to_yaml(p)
    assert ExtractConfig.from_yaml(p) == cfg


def test_config_file_drives_job_end_to_end(spark, tmp_path):
    """The reference's production path: one YAML file, no other flags."""
    from pdfwf_spark.fixtures.gen import gen_transcripts
    from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    rows = [{k: v for k, v in r.items() if not k.startswith("_")}
            for r in gen_transcripts(10, seed=3, mega_every=0)]
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(inp)

    cfg = tmp_path / "job.yaml"
    cfg.write_text(f"input: {inp}\noutput: {out}\nbuckets: 8\n"
                   "partitions: 4\nmarkdown_compat: true\n")
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_extract.py"),
         "--config", str(cfg)],
        capture_output=True, text=True, env=env, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.strip().splitlines() if l.startswith("{")][-1]
    stats = json.loads(line)
    assert stats["input_rows"] > 0 and stats["ok_rows"] > 0
    assert os.path.isdir(f"{out}/turns") and os.path.isdir(f"{out}/lineage")


def test_jobs_build_their_session_through_build_session():
    """Every jobs/ entrypoint gets build_session's settings (Arrow on,
    UTC session time zone, shuffle partitions sized to the master): a
    bare SparkSession.builder would run without them under
    spark-submit."""
    import glob

    jobs = sorted(glob.glob(os.path.join(REPO, "jobs", "*.py")))
    assert jobs
    for path in jobs:
        src = open(path).read()
        assert "SparkSession.builder" not in src, path
        assert "build_session(" in src, path


def test_build_session_defaults_to_host_cores(monkeypatch):
    """With no master argument, launcher master, SPARK_GRAFT_MASTER or
    SPARK_GRAFT_CPUS, the session runs local[os.cpu_count()] with
    shuffle partitions sized to it. The builder is faked: no JVM."""
    from unittest import mock

    import pdfwf_spark.session as session

    builder = mock.MagicMock()
    for step in ("master", "appName", "config"):
        getattr(builder, step).return_value = builder
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setattr(session, "_launcher_master", lambda: None)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    monkeypatch.setattr(session, "SparkSession", mock.Mock(builder=builder))
    session.build_session()
    builder.master.assert_called_once_with("local[6]")
    builder.config.assert_any_call("spark.sql.shuffle.partitions", "12")


def test_curate_config_yaml_and_validation(tmp_path):
    from pdfwf_spark.config import CurateConfig

    p = tmp_path / "c.yaml"
    p.write_text("input: /in\noutput: /out\nquality_min: 500\nlangs: [en]\n")
    cfg = CurateConfig.from_yaml(p)
    assert cfg.quality_min == 500 and cfg.langs == ["en"]
    assert cfg.near_dup_threshold == 0.05 and cfg.redact_pii

    p.write_text("input: /in\noutput: /out\nbogus_key: 1\n")
    with pytest.raises(ValueError, match="unknown config keys"):
        CurateConfig.from_yaml(p)
    with pytest.raises(ValueError, match="near_dup_threshold"):
        CurateConfig(input="/in", output="/out", near_dup_threshold=2.0)


def test_curate_job_end_to_end(spark, tmp_path):
    """YAML-driven curation job over a small corpus with a planted
    near-dup pair, a repetitive doc, and a PII doc: the dup loser and
    the repetitive doc are dropped, PII is redacted in the output."""
    import json as _json

    base = ("the quick brown fox jumps over the lazy dog and then "
            "naps in the warm afternoon sun for a while")
    rows = [
        (0, base),
        (1, base + " indeed"),                      # near-dup of 0 -> dropped
        (2, "spam ham " * 30),                       # top2gram-dominant -> dropped
        (3, "a perfectly normal doc about the sea and the sky "
            "mail me at bob@x.io for details"),      # kept, email redacted
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    cfgp = tmp_path / "curate.yaml"
    cfgp.write_text(f"input: {src}\noutput: {tmp_path / 'out'}\n"
                    "near_dup_threshold: 0.3\ntop2gram_max: 300\n")

    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_curate.py"),
         "--config", str(cfgp)],
        capture_output=True, text=True, env=env, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.strip().splitlines() if l.startswith("{")][-1]
    stats = _json.loads(line)
    assert stats["stages"]["input"] == 4
    assert stats["stages"]["dedup"] == 3
    assert stats["stages"]["repetition"] == 2

    out = {r["doc_id"]: r for r in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    assert set(out) == {0, 3}
    assert "<EMAIL>" in out[3]["redacted_text"]


def test_partial_yaml_plus_flags(tmp_path):
    """A YAML of only tuning knobs + input/output from CLI flags is
    the documented precedence — required-field validation must happen
    AFTER the merge, not at YAML load."""
    from pdfwf_spark.config import CurateConfig, cli_or_yaml, yaml_mapping

    p = tmp_path / "knobs.yaml"
    p.write_text("quality_min: 500\ntop2gram_max: 200\n")
    vals = yaml_mapping(CurateConfig, p)
    assert vals == {"quality_min": 500, "top2gram_max": 200}

    # CLI wins over YAML; YAML wins over default; False = not-given
    assert cli_or_yaml(vals, "quality_min", 700, None) == 700
    assert cli_or_yaml(vals, "quality_min", None, None) == 500
    assert cli_or_yaml(vals, "langs", None, ["en"]) == ["en"]
    assert cli_or_yaml({"markdown_compat": True}, "markdown_compat", False, False)


def test_curate_round4_stages(spark):
    from pdfwf_spark.config import CurateConfig
    from pdfwf_spark.curation import curate

    passage = " ".join(f"dup{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, passage + " the a of extra tail words here", None),
            (2, passage + " the a of other trailing words", None),
            (3, "the quick brown fox jumps over the lazy dog " * 10, None),
            (4, "see https://blocked.example.com/x " + "the a of words " * 5, None),
        ],
        "doc_id long, text string, lang string",
    )
    cfg = CurateConfig(
        input="/in", output="/out",
        near_dup_threshold=0.5, keeper_policy="longest",
        top2gram_max=None, redact_pii=False,
        blocked_domains=["blocked.example.com"],
        max_tokens=20, assign_splits=True,
    )
    res = curate(docs, cfg, collect_stats=True)
    rows = {r["doc_id"]: r for r in res.curated.collect()}
    assert 4 not in rows                      # blocklisted
    assert (1 in rows) != (2 in rows)         # near-dups: one keeper
    kept_dup = rows.get(1) or rows.get(2)
    # keeper_policy=longest: doc 1 (8 extra tokens) beats doc 2 (7)
    assert kept_dup["doc_id"] == 1
    for r in rows.values():
        assert r["n_tokens_kept"] <= 20       # truncation applied
        assert r["split"] in {"train", "val", "test"}
    assert res.stage_counts["blocklist"] == 3
    assert res.stage_counts["dedup"] == 2


def test_curate_string_keyed_corpus(spark):
    """The r4-verdict wall: real corpora key on URLs/UUIDs. curate()
    must run the full pipeline on a string id column end-to-end now
    that dup_clusters routes string ids through md5 surrogates —
    keepers elected, non-dups preserved, id column type unchanged."""
    from pdfwf_spark.config import CurateConfig
    from pdfwf_spark.curation import curate

    passage = " ".join(f"dup{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            ("https://a.example/1", passage + " one extra tail here"),
            ("https://b.example/2", passage + " other trailing words"),
            ("https://c.example/3", "the quick brown fox jumps far " * 8),
        ],
        "url string, text string",
    )
    cfg = CurateConfig(
        input="/in", output="/out", id_col="url",
        near_dup_threshold=0.5, top2gram_max=None, redact_pii=False,
    )
    res = curate(docs, cfg, collect_stats=True)
    rows = {r["url"]: r for r in res.curated.collect()}
    assert "https://c.example/3" in rows
    # exactly one of the two near-dups survives, and min-id keeper
    # policy on strings = lexicographic-min original id
    assert ("https://a.example/1" in rows) and ("https://b.example/2" not in rows)
    assert res.stage_counts["dedup"] == 2
    assert res.curated.schema["url"].dataType.simpleString() == "string"

    # salt-split cap mode flows through curate() unchanged on an
    # uncontended corpus (no bucket over the cap -> identical result)
    cfg_salt = CurateConfig(
        input="/in", output="/out", id_col="url",
        near_dup_threshold=0.5, cap_mode="salt",
        top2gram_max=None, redact_pii=False,
    )
    rows3 = {r["url"] for r in curate(docs, cfg_salt).curated.collect()}
    assert rows3 == set(rows)
    with pytest.raises(ValueError, match="cap_mode"):
        CurateConfig(input="/in", output="/out", cap_mode="shrug")


def test_curate_config_keeper_validation():
    import pytest as _pytest

    from pdfwf_spark.config import CurateConfig

    with _pytest.raises(ValueError):
        CurateConfig(input="/in", output="/out", keeper_policy="best")
    with _pytest.raises(ValueError):
        CurateConfig(input="/in", output="/out", max_tokens=0)


def test_pack_job_end_to_end(spark, tmp_path):
    """jobs/run_pack.py driven as a subprocess (its main() stops the
    SparkSession) with a YAML config: packing assignment written, one
    JSON stats line printed."""
    import json

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "tok " * (5 + i % 20)) for i in range(60)],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "packed")
    cfgp = tmp_path / "pack.yaml"
    cfgp.write_text(
        f"input: {src}\noutput: {out}\nbudget: 64\n"
        "discipline: greedy\nn_buckets: 2\n"
    )

    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_pack.py"),
         "--config", str(cfgp)],
        capture_output=True, text=True, env=env, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.strip().splitlines() if l.startswith("{")][-1]
    stats = json.loads(line)
    assert stats["discipline"] == "greedy" and stats["budget"] == 64
    assert stats["stats"]["n_seqs"] > 0

    packed = spark.read.parquet(out)
    assert packed.count() == 60
    assert set(packed.columns) >= {"doc_id", "bucket", "seq_idx", "seq_offset", "n"}
    # greedy: no doc straddles its budget
    from pyspark.sql import functions as F
    bad = packed.filter(
        (F.col("truncated") == 0) & (F.col("seq_offset") + F.col("n") > 64)
    ).count()
    assert bad == 0


def test_pack_config_validation():
    import pytest as _pytest

    from pdfwf_spark.config import PackConfig

    with _pytest.raises(ValueError):
        PackConfig(input="/a", output="/b", discipline="optimal")
    with _pytest.raises(ValueError):
        PackConfig(input="/a", output="/b", budget=0)


def test_curate_yaml_round4_keys(spark, tmp_path):
    """YAML values for the round-4 curation knobs must reach the
    config (a silently-dropped key is the classic config footgun)."""
    import sys

    cfgp = tmp_path / "c.yaml"
    cfgp.write_text(
        "keeper_policy: longest\nblocked_domains: [bad.example.com]\n"
        "max_tokens: 99\nassign_splits: true\n"
    )
    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_curate  # noqa: F401  (import side-effect free)
    finally:
        sys.path.pop(0)
    from pdfwf_spark.config import CurateConfig, yaml_mapping

    vals = yaml_mapping(CurateConfig, cfgp)
    assert vals == {
        "keeper_policy": "longest",
        "blocked_domains": ["bad.example.com"],
        "max_tokens": 99,
        "assign_splits": True,
    }


def test_context_job_end_to_end(spark, tmp_path):
    """jobs/run_context.py driven as a subprocess with YAML + a CLI
    override (mode), floors applied first."""
    import json

    src = str(tmp_path / "turns.parquet")
    rows = []
    for c in range(4):
        for i in range(6):
            role = "tool" if (c == 3) else ("user" if i % 2 == 0 else "assistant")
            rows.append((f"c{c}", i, role, f"text {c} {i}", "",
                         __import__("datetime").datetime(2025, 1, 1, 0, 0, i)))
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(src)

    out = str(tmp_path / "ctx_out")
    cfgp = tmp_path / "ctx.yaml"
    cfgp.write_text(
        f"input: {src}\noutput: {out}\nmode: context\nk: 2\n"
        "chunk_size: 4\nmax_tool_milli: 500\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_context.py"),
         "--config", str(cfgp), "--mode", "pairs"],
        capture_output=True, text=True, env=env, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.strip().splitlines() if l.startswith("{")][-1]
    stats = json.loads(line)
    assert stats["mode"] == "pairs" and stats["floors"] is True

    got = spark.read.parquet(out)
    assert set(got.columns) == {"conv_id", "pair_idx", "response_turn_idx",
                                "prompt", "response"}
    convs = {r["conv_id"] for r in got.select("conv_id").distinct().collect()}
    assert convs == {"c0", "c1", "c2"}  # all-tool c3 floored out
    assert got.count() == 9  # 3 convs x 3 assistant turns


def test_context_config_validation():
    import pytest as _pytest

    from pdfwf_spark.config import ContextConfig

    with _pytest.raises(ValueError, match="mode"):
        ContextConfig(input="a", output="b", mode="nope")
    with _pytest.raises(ValueError, match=">= 1"):
        ContextConfig(input="a", output="b", k=0)
    with _pytest.raises(ValueError, match="non-empty"):
        ContextConfig(input="", output="b")


def test_select_job_end_to_end(spark, tmp_path):
    """jobs/run_select.py driven as a subprocess with YAML + a CLI
    override (--q): DSIR-selected slice written with original columns
    plus scores, one JSON stats line printed, and english-looking
    docs outrank the rest."""
    import json

    src = str(tmp_path / "pool.parquet")
    rows = [
        (i, "the quick brown fox runs over the lazy dog again " * 3
            + f"extra{i} note{i}", "en")
        for i in range(20)
    ] + [
        (100 + i, "el zorro marron salta sobre el perro otra vez " * 3
            + f"extra{i} nota{i}", "es")
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(src)
    out = str(tmp_path / "selected")
    cfgp = tmp_path / "select.yaml"
    cfgp.write_text(
        f"input: {src}\noutput: {out}\n"
        "target_filter: lang = 'en'\nn_buckets: 128\nq: 0.9\n"
    )

    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_select.py"),
         "--config", str(cfgp), "--q", "0.6"],
        capture_output=True, text=True, env=env, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.strip().splitlines() if l.startswith("{")][-1]
    stats = json.loads(line)
    assert stats["q"] == 0.6 and stats["n_input"] == 40  # CLI beat YAML
    assert 0 < stats["n_output"] < 40

    sel = spark.read.parquet(out)
    assert set(sel.columns) >= {"doc_id", "text", "lang", "n_grams", "dsir_milli"}
    # target-lookalike docs fill the kept slice before anything else
    langs = {r["lang"] for r in sel.select("lang").distinct().collect()}
    assert langs == {"en"}


def test_select_config_validation():
    import pytest as _pytest

    from pdfwf_spark.config import SelectConfig

    with _pytest.raises(ValueError, match="exactly one"):
        SelectConfig(input="a", output="b")
    with _pytest.raises(ValueError, match="exactly one"):
        SelectConfig(input="a", output="b", target="t", target_filter="x=1")
    with _pytest.raises(ValueError, match="q must be"):
        SelectConfig(input="a", output="b", target="t", q=1.0)
    with _pytest.raises(ValueError, match="mode must be"):
        SelectConfig(input="a", output="b", target="t", mode="resample")
