"""--shacl publish gate on the module CLI."""

import json
import os
import subprocess
import sys

MAPPING = (
    "row:\n  map:\n    id_from_column: variant_id\n    to_subject: variant\n"
    "transformers:\n  - map:\n      column: patient\n      to_object: patient\n"
    "      via_relation: patient_has_variant\n"
)

SHAPES_VIOLATED = (
    "shapes:\n"
    "  - shape: VariantShape\n"
    "    target_class: variant\n"
    "    path: patient_has_variant\n"
    "    min_count: 1\n"
    "    object_class: patient\n"
    "  - shape: VariantShape\n"
    "    target_class: variant\n"
    "    key: impossible_prop\n"
    "    pattern: '^x$'\n"
)


def _run(args, cwd="/root/repo"):
    return subprocess.run(
        [sys.executable, "-m", "ontoweaver_spark", *args],
        capture_output=True, text=True, timeout=600, cwd=cwd,
        env={**os.environ},
    )


def test_shacl_gate_pass_fail_and_report_only(tmp_path):
    data = tmp_path / "data.csv"
    # variant 2 has NO patient -> min_count violation
    data.write_text("variant_id,patient\n0,A\n1,B\n2,\n")
    mapping = tmp_path / "mapping.yaml"
    mapping.write_text(MAPPING)
    shapes = tmp_path / "shapes.yaml"
    shapes.write_text(SHAPES_VIOLATED)
    out = tmp_path / "out"

    proc = _run([f"{data}:{mapping}", "--out", str(out), "--affix", "suffix",
                 "--master", "local[2]", "--shacl", str(shapes)])
    assert proc.returncode == 3, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["shacl_violations"] == 1
    assert "SHACL min_count" in proc.stderr
    assert (out / "shacl_violations").exists()

    # report-only: same violations, exit 0
    proc2 = _run([f"{data}:{mapping}", "--out", str(out), "--affix", "suffix",
                  "--master", "local[2]", "--shacl", str(shapes),
                  "--shacl-report-only"])
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    assert json.loads(proc2.stdout.strip().splitlines()[-1])["shacl_violations"] == 1

    # conforming data: exit 0, zero violations, no violations dir rewrite
    data.write_text("variant_id,patient\n0,A\n1,B\n")
    proc3 = _run([f"{data}:{mapping}", "--out", str(out), "--affix", "suffix",
                  "--master", "local[2]", "--shacl", str(shapes)])
    assert proc3.returncode == 0, proc3.stderr[-2000:]
    assert json.loads(proc3.stdout.strip().splitlines()[-1])["shacl_violations"] == 0


def test_shapes_file_unknown_key_fails_loudly(tmp_path):
    from ontoweaver_spark.validate import load_shapes

    bad = tmp_path / "bad.yaml"
    bad.write_text("- shape: S\n  target_class: t\n  mincount: 1\n")
    import pytest

    with pytest.raises(ValueError, match="unknown keys.*mincount"):
        load_shapes(str(bad))


def test_shacl_with_chunks_gates_the_run(tmp_path):
    """--chunks N runs the same one pipeline, SHACL gate included: the
    violation fails the run and lands in OUT/shacl_violations."""
    data = tmp_path / "data.csv"
    data.write_text("variant_id,patient\n0,A\n1,B\n2,\n3,C\n")
    mapping = tmp_path / "mapping.yaml"
    mapping.write_text(MAPPING)
    shapes = tmp_path / "shapes.yaml"
    shapes.write_text(SHAPES_VIOLATED)
    out = tmp_path / "out"

    proc = _run([f"{data}:{mapping}", "--out", str(out), "--affix", "suffix",
                 "--master", "local[2]", "--chunks", "2", "--shacl", str(shapes)])
    assert proc.returncode == 3, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["shacl_violations"] == 1 and result["chunks_extracted"] == 2
    assert "SHACL min_count" in proc.stderr
    assert (out / "shacl_violations").exists()
