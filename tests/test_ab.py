"""Decision logic of ``scripts/ab.py``, without a JVM.

Each test builds a small git repository whose revisions hold a fake
``infofarmsparkml_spark.registry`` (so the oracle SQL is read from the
real extracted trees) and replaces the benchmark worker with a fake
that reports canned runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

import ab  # noqa: E402

SQL = {"q1": "SELECT 1 AS x", "q2": "SELECT 2 AS x"}


def _git(repo, *args) -> str:
    out = subprocess.run(
        ["git", "-c", "user.name=ab", "-c", "user.email=ab@example.com", *args],
        cwd=repo, check=True, capture_output=True, text=True,
    )
    return out.stdout.strip()


@pytest.fixture
def repo(tmp_path, monkeypatch):
    repo = tmp_path / "repo"
    (repo / "infofarmsparkml_spark").mkdir(parents=True)
    (repo / "infofarmsparkml_spark" / "__init__.py").write_text("")
    _git(repo, "init", "-q")
    monkeypatch.setattr(ab.fixture, "ensure", lambda root, sf, seed: str(tmp_path / "fx"))
    return repo


def _commit(repo, arm: str, oracles: dict) -> str:
    (repo / "ARM").write_text(arm)
    (repo / "infofarmsparkml_spark" / "registry.py").write_text(
        f"def oracle_sql():\n    return {oracles!r}\n"
    )
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", arm)
    return _git(repo, "rev-parse", "HEAD")


def _fake_worker(calls: list, check=(True, "equal"), fail=False, slow="A"):
    """A worker whose arm ``slow`` takes 0.1 s longer on every run."""

    def worker(root, run_dir, tag, deadline, spec):
        with open(os.path.join(root, "ARM")) as f:
            arm = f.read()
        calls.append((arm, root))
        if fail:
            return None
        os.makedirs(spec["events_dir"])
        open(os.path.join(spec["events_dir"], "app-1"), "w").close()
        runs, spans = [], []
        for p in range(spec["min_warm_passes"] + 1):
            for q in spec["queries"]:
                s = 1.0 + (0.1 if arm == slow else 0.0) + p / 1000
                run = {"query": q, "pass": p, "s": s, "traced": p % 4 in (2, 3)}
                if run["traced"]:
                    run["phases"] = {"analysis": 0.01, "optimization": 0.02, "planning": 0.03}
                    spans += [
                        [q, str(p), "operators", 0.4, 1],
                        [q, str(p), "execution", s - 0.4, 1],
                    ]
                runs.append(run)
        return {
            "runs": runs,
            "errors": [],
            "checks": {q: list(check) for q in spec["queries"]},
            "spans": spans,
            "get_spark_s": 5.0,
            "registry_s": 0.2,
        }

    return worker


def _lines(capsys) -> list[dict]:
    return [json.loads(line) for line in capsys.readouterr().out.splitlines()]


def test_verdict_alternates_first_arm_and_removes_trees(repo, monkeypatch, capsys):
    a = _commit(repo, "A", SQL)
    b = _commit(repo, "B", SQL)
    calls: list = []
    monkeypatch.setattr(ab.run, "_worker", _fake_worker(calls))
    assert ab.main([a, b, "q1", "q2"], root=str(repo)) == 0
    arms = [arm for arm, _ in calls]
    assert len(arms) == 2 * ab.ROUNDS
    assert arms[0::2] == ["A", "B"] * (ab.ROUNDS // 2)
    assert not any(os.path.exists(root) for _, root in calls)
    lines = _lines(capsys)
    assert [line["query"] for line in lines] == ["q1", "q2"]
    for line in lines:
        assert line["rounds"] == ab.ROUNDS
        assert line["last_won_rounds"] == ab.ROUNDS
        first, last = line["arms"]
        assert (first["commit"], last["commit"]) == (a, b)
        # 4 untraced warm passes per run: 1, 4, 5 and 8.
        assert len(first["warm_s"]) == 4 * ab.ROUNDS
        assert first["min_s"] <= first["q1_s"] <= first["median_s"] <= first["q3_s"]
        assert first["median_s"] > last["median_s"]
        assert first["layers"]["operators.build_s"] == pytest.approx(0.4)
        assert first["layers"]["catalyst.planning_s"] == pytest.approx(0.03)


def test_failed_check_is_unverified(repo, monkeypatch, capsys):
    a = _commit(repo, "A", SQL)
    b = _commit(repo, "B", SQL)
    calls: list = []
    monkeypatch.setattr(ab.run, "_worker", _fake_worker(calls, check=(False, "rows 3 != 4")))
    assert ab.main([a, b, "q1"], root=str(repo)) == 1
    assert len(calls) == 2  # stops after the first round
    [line] = _lines(capsys)
    assert line["query"] == "q1" and "rows 3 != 4" in line["unverified"]
    assert "arms" not in line


@pytest.mark.parametrize(
    "oracles_b",
    [{"q2": SQL["q2"]}, dict(SQL, q1="SELECT 1 AS y")],
    ids=["no-oracle", "oracle-differs"],
)
def test_oracle_gate_is_unverified_without_running(repo, monkeypatch, capsys, oracles_b):
    a = _commit(repo, "A", SQL)
    b = _commit(repo, "B", oracles_b)
    calls: list = []
    monkeypatch.setattr(ab.run, "_worker", _fake_worker(calls))
    assert ab.main([a, b, "q1", "q2"], root=str(repo)) == 1
    assert calls == []
    assert [line["query"] for line in _lines(capsys)] == ["q1"]


def test_worker_failure_removes_trees(repo, monkeypatch, capsys):
    a = _commit(repo, "A", SQL)
    calls: list = []
    monkeypatch.setattr(ab.run, "_worker", _fake_worker(calls, fail=True))
    assert ab.main([a, "q1"], root=str(repo)) == 1
    assert len(calls) == 1 and not os.path.exists(calls[0][1])
    assert capsys.readouterr().out == ""
