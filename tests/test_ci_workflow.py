"""CI workflow contract (r9 verdict item 4): the reference ships
image-build GitHub Actions (/root/reference/.github/workflows/docker.yml);
this repo's .github/workflows/ci.yml must exist, be valid YAML, and wire
the three verification surfaces (pytest, parity sweep, Docker build). The
workflow can't execute in-sandbox, so these tests are the dry parse the
verdict asked for — plus a drift check that the checked-in smoke fixture
the workflow stages actually matches the driver's sf0.001 tables."""

from __future__ import annotations

from pathlib import Path

import yaml

REPO = Path(__file__).resolve().parents[1]
WF = REPO / ".github" / "workflows" / "ci.yml"


def _load():
    doc = yaml.safe_load(WF.read_text())
    assert isinstance(doc, dict)
    return doc


def test_workflow_parses_and_triggers():
    doc = _load()
    # YAML 1.1 parses the bare key `on` as boolean True
    triggers = doc.get("on", doc.get(True))
    assert triggers is not None, "workflow has no trigger block"
    assert "push" in triggers and "pull_request" in triggers


def test_workflow_jobs_and_steps():
    doc = _load()
    jobs = doc["jobs"]
    assert set(jobs) >= {"test", "docker"}
    test_cmds = " ".join(
        s.get("run", "") for s in jobs["test"]["steps"] if isinstance(s, dict)
    )
    assert "pytest tests/" in test_cmds
    # the only check that drives the real ingest CLI end to end
    assert "pytest perfbench/test_smoke.py" in test_cmds
    assert "tools/parity.py" in test_cmds
    docker_uses = [
        s.get("uses", "") for s in jobs["docker"]["steps"] if isinstance(s, dict)
    ]
    assert any(u.startswith("docker/build-push-action") for u in docker_uses)
    # every step is either a `uses` or a `run` — a bare step is a typo
    for job in jobs.values():
        for step in job["steps"]:
            assert "uses" in step or "run" in step, f"malformed step: {step}"


def test_test_job_sizes_task_slots_before_spark_steps():
    # the same task slots as the tier-1 command: one per runner CPU, set
    # before the first step that starts Spark
    steps = _load()["jobs"]["test"]["steps"]
    runs = [s.get("run", "") for s in steps]
    sets = [
        i
        for i, r in enumerate(runs)
        if 'SPARK_GRAFT_CPUS=$(env -u OMP_NUM_THREADS nproc)' in r
        and "$GITHUB_ENV" in r
    ]
    assert sets, "the test job never sets SPARK_GRAFT_CPUS from nproc"
    for cmd in ("pytest tests/", "pytest perfbench/test_smoke.py", "tools/parity.py"):
        (at,) = [i for i, r in enumerate(runs) if cmd in r]
        assert sets[0] < at, f"SPARK_GRAFT_CPUS is set after {cmd!r}"


def test_smoke_fixture_matches_driver_tables():
    # The workflow stages tests/fixtures/sf0.001 at /root/testdata/sf0.001;
    # if the fixture drifts from the driver's tables (schema or content),
    # CI would pass/fail differently from the in-sandbox gate.
    import duckdb

    fixture = REPO / "tests" / "fixtures" / "sf0.001"
    driver = Path("/root/testdata/sf0.001")
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    assert sorted(p.name for p in fixture.glob("*.parquet")) == sorted(
        f"{t}.parquet" for t in tables
    )
    if not driver.is_dir():  # CI itself: fixture IS the driver dir
        return
    con = duckdb.connect()
    for t in tables:
        a, b = fixture / f"{t}.parquet", driver / f"{t}.parquet"
        rows = con.sql(
            f"SELECT (SELECT count(*) FROM '{a}') = (SELECT count(*) FROM '{b}'),"
            f" (SELECT count(*) FROM ((FROM '{a}') EXCEPT (FROM '{b}'))) = 0"
        ).fetchone()
        assert rows == (True, True), f"fixture drifted from driver table {t}"
