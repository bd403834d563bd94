"""CLI driver parity (builder/builder.py:564-607): subprocess run of
`python -m robokop_build_spark` against the session fixtures, exact-golden
output for the seed-bound query it chains together."""

import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _disease_surface_and_curies(fixture_dir):
    """A fixture surface that resolves as a disease name, plus the CURIEs
    the lookup must return (same rule as sources/lookup.py: type match,
    HP-prefixed dropped, case-insensitive)."""
    lex = pq.read_table(f"{fixture_dir}/lexicon.parquet").to_pylist()
    by_surface = {}
    for r in lex:
        by_surface.setdefault(r["surface"].lower(), []).append(r)
    for surface, rows in sorted(by_surface.items()):
        curies = sorted(
            {
                r["curie"]
                for r in rows
                if r["node_type"] == "disease" and not r["curie"].startswith("HP")
            }
        )
        if curies:
            return surface, curies
    pytest.fail("fixture has no disease surface")


def test_cli_end_to_end_exact_golden(fixture_dir, tmp_path):
    from robokop_build_spark.datagen.oracle import compute_golden

    surface, curies = _disease_surface_and_curies(fixture_dir)
    outdir = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable, "-m", "robokop_build_spark",
            "-p", "DG",
            "--start", surface.title(),  # case-insensitive lookup
            "--fixtures", fixture_dir,
            "--workdir", str(tmp_path / "work"),
            "--output", str(outdir),
            "--master", "local[4]",
        ],
        capture_output=True, text=True, timeout=600,
        cwd=REPO, env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "Start identifiers: " in proc.stdout

    got_tbl = pq.read_table(str(outdir / "triples")).to_pylist()
    got = {
        (t["subj"], t["pred"], t["obj"], t["edge_source"],
         tuple(t["publications"]), t["input_identifiers"])
        for t in got_tbl
    }
    _, want_t = compute_golden(
        fixture_dir, [["disease", "gene"]], start_values=curies,
        supporters=(),
    )
    want = {
        (t["subj"], t["pred"], t["obj"], t["edge_source"],
         tuple(t["publications"]), t["input_identifiers"])
        for t in want_t
    }
    assert got == want and got


def test_cli_question_shortcuts_and_errors(fixture_dir, tmp_path):
    base = [
        sys.executable, "-m", "robokop_build_spark",
        "--fixtures", fixture_dir, "--workdir", str(tmp_path / "w"),
    ]
    env = {**os.environ, "PYTHONPATH": REPO}
    # -p and -q together is fatal (builder.py:587-589)
    p = subprocess.run(
        base + ["-p", "DG", "-q", "1", "--start", "x"],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=env,
    )
    assert p.returncode == 1 and "Cannot specify both" in p.stdout
    # -q 2 without --end is fatal (builder.py:597-599)
    p = subprocess.run(
        base + ["-q", "2", "--start", "x"],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=env,
    )
    assert p.returncode == 1 and "--end required" in p.stdout
    # unresolvable start name exits 1 after lookup
    p = subprocess.run(
        base + ["-p", "DG", "--start", "zzz no such name zzz"],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert p.returncode == 1 and "No identifiers found" in p.stdout
