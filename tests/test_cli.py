"""E2E CLI test — the analog of the reference's subprocess smoke
(tests/test_smoke.py:81-113): invoke the module entry in a fresh
process, expect exit 0 and a valid sink."""

import json
import os
import subprocess
import sys

from occular_ocr_spark.fixtures import write_transcripts_parquet


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(args):
    return subprocess.run(
        [sys.executable, "-m", "occular_ocr_spark"] + args,
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )


def test_cli_json_sink_end_to_end(tmp_path):
    inp = str(tmp_path / "turns.parquet")
    out = str(tmp_path / "out_json")
    write_transcripts_parquet(inp, n_convs=10, seed=61)
    r = _run_cli(
        ["--input", inp, "--output", out, "--format", "json",
         "--partitions", "4", "--salt", "2", "--snapshot-id", "7",
         "--master", "local[2]"]
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = []
    for part in (tmp_path / "out_json").glob("part-*.json"):
        with open(part) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    assert rows, "no JSON rows written"
    sample = rows[0]
    # record contract: the reference's output keys, cluster edition
    for key in ("conv_id", "turn_idx", "method", "blocks", "text",
                "src_snapshot_id", "partition_id", "extractor_version"):
        assert key in sample
    assert all(r_["src_snapshot_id"] == 7 for r_ in rows)
    assert {r_["method"] for r_ in rows} <= {"html", "pdf_text", "markup", "plain"}
    for r_ in rows:
        for b in r_["blocks"]:
            assert 0.0 <= b["confidence"] <= 1.0  # test_smoke.py:67-78 analog


def test_cli_stdout_text(tmp_path):
    inp = str(tmp_path / "turns.parquet")
    write_transcripts_parquet(inp, n_convs=4, seed=63)
    r = _run_cli(["--input", inp, "--stdout", "--master", "local[2]"])
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip(), "no text on stdout"


def test_cli_checkpointed_flag_conflicts():
    # --checkpointed always writes detailed parquet; combining it with
    # --format/--text-only/--stdout must fail loudly, not silently
    import pytest

    from occular_ocr_spark.cli import main

    for extra in (["--format", "json"], ["--text-only"], ["--stdout"]):
        with pytest.raises(SystemExit) as exc:
            main(["--input", "x", "--output", "y", "--checkpointed"] + extra)
        assert exc.value.code == 2
    # --output required unless --stdout
    with pytest.raises(SystemExit):
        main(["--input", "x"])


def test_cli_salt_needs_partitions():
    # --salt lives in the --partitions exchange; without one it would do
    # nothing, so the CLI refuses it before starting Spark
    import pytest

    from occular_ocr_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main(["--input", "x", "--output", "y", "--salt", "8"])
    assert exc.value.code == 2


def test_cli_checkpointed_refuses_salt(monkeypatch):
    # the sink has no exchange to salt, so --salt with --checkpointed is
    # refused before Spark starts, with or without --partitions
    import pytest
    from pyspark.sql import SparkSession

    from occular_ocr_spark.cli import main

    def no_spark(self):
        raise AssertionError("Spark started")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_spark)
    for extra in ([], ["--partitions", "0"], ["--partitions", "8"]):
        with pytest.raises(SystemExit) as exc:
            main(["--input", "x", "--output", "y", "--checkpointed",
                  "--salt", "8"] + extra)
        assert exc.value.code == 2


def test_cli_rejects_layout_without_buckets_or_ranges(monkeypatch):
    # refused by the parser, before a Spark session is built
    import pytest
    from pyspark.sql import SparkSession

    from occular_ocr_spark.cli import main

    def no_spark(self):
        raise AssertionError("Spark started")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_spark)
    for flag, value in (("--num-buckets", "0"), ("--num-buckets", "-4"),
                        ("--num-ranges", "0")):
        with pytest.raises(SystemExit) as exc:
            main(["--input", "x", "--output", "y", "--checkpointed", flag, value])
        assert exc.value.code == 2


def test_cli_checkpointed_resume(tmp_path):
    inp = str(tmp_path / "turns.parquet")
    out = str(tmp_path / "ckpt_sink")
    write_transcripts_parquet(inp, n_convs=12, seed=62)
    base = ["--input", inp, "--output", out, "--checkpointed",
            "--num-buckets", "8", "--num-ranges", "4", "--master", "local[2]"]
    r1 = _run_cli(base)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "complete=True" in r1.stdout
    # idempotent re-run: everything already committed, zero new ranges
    r2 = _run_cli(base)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "committed 0 ranges" in r2.stdout


def test_cli_pipeline_mode_with_resume(tmp_path):
    """--pipeline runs the composed curation chain over a tables dir;
    --stop-after commits a prefix, re-running completes the rest with
    identical stage digests (round-5 CLI surface)."""
    out = str(tmp_path / "pipe")
    base = ["--input", "/root/testdata/sf0.001", "--output", out,
            "--pipeline", "--master", "local[2]"]
    r1 = _run_cli(base + ["--stop-after", "dedup_exact"])
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "pipeline complete=False" in r1.stdout
    assert "stage dedup_exact:" in r1.stdout and "stage pack" not in r1.stdout

    r2 = _run_cli(base)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "pipeline complete=True" in r2.stdout
    # the resumed run reports the SAME digests for the pre-committed stages
    pre = {l.split(":")[0] for l in r1.stdout.splitlines() if l.startswith("stage ")}
    d1 = {l.split(":")[0]: l for l in r1.stdout.splitlines() if l.startswith("stage ")}
    d2 = {l.split(":")[0]: l for l in r2.stdout.splitlines() if l.startswith("stage ")}
    assert all(d2[s] == d1[s] for s in pre)
    assert len(d2) == 8


def test_cli_pipeline_flag_conflicts():
    from occular_ocr_spark.cli import main

    import pytest

    with pytest.raises(SystemExit):
        main(["--input", "x", "--output", "y", "--pipeline", "--text-only"])
    with pytest.raises(SystemExit):
        main(["--input", "x", "--output", "y", "--pipeline",
              "--stop-after", "nonsense", "--master", "local[1]"])
