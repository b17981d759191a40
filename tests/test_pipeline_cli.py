"""Pipeline entry points reject options their source and mode would
silently drop — checked before any Spark session starts."""

import pytest

from aisafetyintervention_literatureextraction_spark.plans import pipeline


@pytest.fixture()
def no_spark(monkeypatch):
    def fail(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(pipeline, "get_spark", fail)


@pytest.mark.parametrize("argv", [
    ["--transcripts", "t.parquet", "--cd-every", "2"],
    ["--pdf-dir", "pdfs", "--cd-every", "2"],
    ["--transcripts", "t.parquet", "--extract-images"],
    ["--ard", "ard", "--modified-after", "2024-01-01T00:00:00"],
    ["--pdf-dir", "pdfs", "--stream", "--extract-images"],
    ["--pdf-dir", "pdfs", "--stream", "--modified-after", "2024-01-01T00:00:00"],
    ["--transcripts", "t.parquet", "--ard", "ard"],
    [],
])
def test_cli_rejects_inapplicable_options(no_spark, capsys, argv):
    with pytest.raises(SystemExit) as e:
        pipeline.main(["--warehouse", "wh", *argv])
    assert e.value.code == 2
    assert "error:" in capsys.readouterr().err


@pytest.mark.parametrize("kwargs", [
    {"cd_every": 2},
    {"fmt": "ard", "extract_images": True},
    {"fmt": "pdf", "stream": True, "modified_after": "2024-01-01T00:00:00"},
    {"fmt": "ard", "glob": "*.jsonl"},
    {"stream": True, "allow_gaps": True},
    {"fmt": "pdf", "allow_gaps": True},
    {"fmt": "parquet"},
])
def test_run_pipeline_rejects_inapplicable_options(kwargs):
    with pytest.raises(ValueError):
        pipeline.run_pipeline(None, "src", "wh", **kwargs)


def test_applicable_options_pass():
    for fmt, stream, kw in (
        ("transcripts", False, {"allow_gaps": True}),
        ("transcripts", True, {"cd_every": 2}),
        ("pdf", False, {"extract_images": True, "glob": "*.PDF",
                        "modified_after": "2024-01-01T00:00:00"}),
        ("pdf", True, {"cd_every": 1, "glob": "*.pdf"}),
        ("ard", True, {"cd_every": 3}),
    ):
        assert pipeline.inapplicable_option(fmt, stream, **kw) is None
