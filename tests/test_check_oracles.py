"""The inventory runner, scripts/check_oracles.py.

The ``--driver`` comparison (``_cell``/``_canon_hash``) is pinned on
small pandas frames, with no JVM: it must stay as strict as the
external driver on the cases that failed values-correct keys before
(an int rendered as float, list cells), and as tolerant where the
driver is (DATE vs midnight timestamp, the three null spellings).
"""

import datetime
import os
import subprocess
import sys

import pandas as pd
import pytest

from scripts.check_oracles import DEFAULT_SF, _canon_hash, _cell, _parse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_int_and_equal_float_hash_differently():
    # HUGEINT reaches pandas as float64: Spark's 65994 vs DuckDB's 65994.0
    assert _cell(65994) == "65994"
    assert _cell(65994.0) != _cell(65994)
    assert _canon_hash(pd.DataFrame({"n": [65994, 3]})) != _canon_hash(
        pd.DataFrame({"n": [65994.0, 3.0]})
    )


def test_float_drift_below_six_digits_hashes_equal():
    assert _canon_hash(pd.DataFrame({"x": [0.1 + 0.2]})) == _canon_hash(
        pd.DataFrame({"x": [0.3]})
    )


def test_list_cells_raise_in_sort():
    pdf = pd.DataFrame({"k": [1, 1], "xs": [[1, 2], [1, 3]]})
    with pytest.raises(TypeError):
        _canon_hash(pdf)


def test_midnight_timestamp_equals_its_date():
    spark_side = pd.DataFrame({"d": [datetime.date(2024, 1, 2)]})
    duckdb_side = pd.DataFrame({"d": pd.to_datetime(["2024-01-02"])})
    assert duckdb_side["d"].dtype.kind == "M"
    assert _canon_hash(spark_side) == _canon_hash(duckdb_side)
    later = pd.DataFrame({"d": pd.to_datetime(["2024-01-02 00:00:01"])})
    assert _canon_hash(later) != _canon_hash(spark_side)


def test_none_nan_nat_are_one_token():
    assert {_cell(None), _cell(float("nan")), _cell(pd.NaT)} == {"NULL"}
    a = pd.DataFrame({"k": [1, 2], "v": pd.Series([None, "x"], dtype=object)})
    b = pd.DataFrame({"k": [1, 2], "v": pd.Series([float("nan"), "x"], dtype=object)})
    assert _canon_hash(a) == _canon_hash(b)


def test_parse_defaults_and_sf_dir_detection():
    assert _parse([]) == (DEFAULT_SF, (), ["oracle"], False)
    sf, prefixes, checks, trace = _parse(
        ["--plans", "/data/sf1", "q11", "--driver", "ext_", "--trace"]
    )
    assert (sf, prefixes, checks, trace) == (
        "/data/sf1", ("q11", "ext_"), ["driver", "plans"], True
    )
    assert _parse(["q11"])[:2] == (DEFAULT_SF, ("q11",))


def test_runner_passes_from_a_directory_without_the_package(tmp_path):
    """A Python-worker key passes when the runner starts elsewhere:
    workers put the driver's cwd first on sys.path, so the runner
    changes into the repository root before its session starts."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "check_oracles.py"),
            "/root/testdata/sf0.001",
            "q24_udf_stage",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert "PASS  oracle q24_udf_stage" in out.stdout
