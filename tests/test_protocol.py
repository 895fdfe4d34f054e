"""scripts/protocol.py: interleaved legs, the paired-median headline, the
two refusals (mixed code stamps, unequal n_clusters) and the code stamp.
Pure Python — the leg runner, the burn runner and the stamp are stubbed,
no Spark; the stamp itself is checked on a throwaway git repo."""

import os
import statistics
import subprocess
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
import protocol  # noqa: E402

QUERIES = {"q_fingerprint": 4.0, "q_dup_pairs": 2.0}


@pytest.fixture
def stubbed(tmp_path, monkeypatch):
    """Stub every outside effect; returns the leg calls in order."""
    monkeypatch.setattr(protocol, "BENCH", str(tmp_path))
    monkeypatch.setattr(protocol, "stamp", lambda: "abc123")
    monkeypatch.setattr(
        protocol, "run_burn", lambda kind, cores: 10.0 * cores ** 0.9
    )
    calls = []
    docs_per_s = iter([100.0, 330.0, 90.0, 350.0, 120.0, 300.0])

    def fake_leg(cores, expansion, n_clusters=35758):
        calls.append((cores, expansion))
        return {
            "docs_per_sec": next(docs_per_s),
            "dedup_pipeline_sec": 10.0 / cores,
            "value": 12.0 / cores,
            "n_docs": 1000,
            "sf": 0.1,
            "n_clusters": n_clusters,
            "queries": {k: v / cores for k, v in QUERIES.items()},
        }

    monkeypatch.setattr(protocol, "run_leg", fake_leg)
    return calls


def test_interleaved_legs_and_paired_median_headline(stubbed, tmp_path):
    assert protocol.main(["1", "4", "--repeats", "3", "--expansion", "7"]) == 0
    assert stubbed == [(1, 7), (4, 7)] * 3
    paired = [330.0 / 400.0, 350.0 / 360.0, 300.0 / 480.0]
    report = (tmp_path / "BASELINE.md").read_text()
    expected = f"**Paired-median efficiency: {statistics.median(paired):.3f}**"
    assert expected in report
    runs = list(tmp_path.glob("protocol_c1-4_x7_abc123_*.json"))
    assert len(runs) == 1 and runs[0].name in report


def _refused(tmp_path) -> bool:
    return (
        protocol.main(["1", "4", "--repeats", "2"]) != 0
        and not (tmp_path / "BASELINE.md").exists()
    )


def test_unequal_n_clusters_refuse_the_report(stubbed, tmp_path, monkeypatch):
    leg = protocol.run_leg
    clusters = iter([35758, 35758, 35758, 35757])
    monkeypatch.setattr(
        protocol, "run_leg",
        lambda c, e: leg(c, e, n_clusters=next(clusters)),
    )
    assert _refused(tmp_path)


def test_mixed_code_stamps_refuse_the_report(stubbed, tmp_path, monkeypatch):
    stamps = iter(["abc123", "abc123", "abc123-dirty-0f0f0f0f", "abc123",
                   "abc123"])
    monkeypatch.setattr(protocol, "stamp", lambda: next(stamps))
    assert _refused(tmp_path)


def test_stamp_covers_untracked_file_contents(tmp_path, monkeypatch):
    def git(*args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                        *args], cwd=tmp_path, check=True, capture_output=True)

    pkg = tmp_path / "image_dedup_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text("A = 1\n")
    git("init", "-q")
    git("add", "-A")
    git("commit", "-q", "-m", "init")
    monkeypatch.setattr(protocol, "REPO", str(tmp_path))
    clean = protocol.stamp()
    assert "-dirty-" not in clean
    (pkg / "b.py").write_text("B = 1\n")
    untracked = protocol.stamp()
    (pkg / "b.py").write_text("B = 2\n")
    edited = protocol.stamp()
    assert len({clean, untracked, edited}) == 3
    assert edited.startswith(clean + "-dirty-")
