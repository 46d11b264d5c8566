"""Dead-man's switch for the attestation surface.

The driver hash-checks only the first 50 registry keys (_WINDOW);
everything else relies on the dev sweep (scripts/check_oracles.py,
which iterates the FULL registry) plus, for rows-only keys, a named
pytest. These tests make silent de-attestation impossible: every key
must carry an oracle or a manifest entry naming a test that still
exists, and the registry the sweep iterates must be the complete
union of both query registries.
"""

import re
from pathlib import Path

import __spark_entry__ as entrymod
from conftest import SF_SMOKE

TESTS_DIR = Path(__file__).parent


def _all_test_function_names() -> set[str]:
    names = set()
    for p in TESTS_DIR.glob("test_*.py"):
        names |= set(re.findall(r"^def (test_\w+)\(", p.read_text(), re.M))
    return names


def test_every_key_is_oracled_or_manifested():
    keys = set(entrymod.queries())
    oracled = set(entrymod.oracle_sql())
    manifested = set(entrymod.ROWS_ONLY_ATTESTATIONS)
    unattested = keys - oracled - manifested
    assert not unattested, f"keys with no oracle and no attestation: {sorted(unattested)}"
    # a manifest entry for an oracled key would hide an oracle
    # regression behind a weaker check; keep the two sets disjoint
    both = oracled & manifested
    assert not both, f"keys both oracled and manifested: {sorted(both)}"
    # and no stale manifest entries for unregistered keys
    stale = manifested - keys
    assert not stale, f"manifest names unregistered keys: {sorted(stale)}"


def test_manifest_tests_exist():
    have = _all_test_function_names()
    for key, tests in entrymod.ROWS_ONLY_ATTESTATIONS.items():
        missing = [t for t in tests if t not in have]
        assert not missing, f"{key}: attestation tests not found: {missing}"


def test_window_outputs_are_driver_canonicalizable(spark):
    """The driver canonicalizes results with pandas ``sort_values``,
    which raises ``TypeError: unhashable type`` on array/map/struct
    cells — round 4 lost two otherwise-correct window rows to exactly
    this. Pin it: every _WINDOW key's output schema must be flat
    (registered queries stringify arrays; library functions keep
    returning real arrays)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    qs = entrymod.queries()
    offenders = {}
    for key in entrymod._WINDOW:
        schema = qs[key](spark, SF_SMOKE).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[key] = bad
    assert not offenders, (
        f"window keys with non-flat output columns (driver pandas "
        f"canonicalizer cannot sort these): {offenders}"
    )


def test_window_oracles_emit_no_hugeint_or_nested_types():
    """DuckDB HUGEINT reaches the driver's pandas canonicalizer as
    float64 ('65994.0' vs Spark's '65994' — the round-4
    ext_export_shards red row), and list/struct cells crash its sort.
    Pin it: every _WINDOW oracle, executed on sf0.001, must return
    only flat, pandas-faithful column types (CAST SUM arithmetic to
    BIGINT; array_to_string list outputs)."""
    from smartpipeline_spark.testing import duckdb_connection

    con = duckdb_connection(SF_SMOKE)
    oracles = entrymod.oracle_sql()
    offenders = {}
    for key in entrymod._WINDOW:
        if key not in oracles:
            continue
        rel = con.sql(oracles[key])
        bad = [
            f"{name}: {t}"
            for name, t in zip(rel.columns, map(str, rel.types))
            if "HUGEINT" in str(t).upper()
            or "[]" in str(t)
            or "STRUCT" in str(t).upper()
            or "MAP" in str(t).upper()
        ]
        if bad:
            offenders[key] = bad
    assert not offenders, (
        f"window oracles with HUGEINT/nested output types (pandas "
        f"renders these unfaithfully for the driver compare): {offenders}"
    )


def test_registry_is_the_full_union_no_key_dropped():
    """queries() must expose EVERY registered key — the sweep iterates
    queries(), so a key dropped by the window-ordering logic would
    fall out of all checking at once."""
    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.operators import QUERIES

    assert set(entrymod.queries()) == set(QUERIES) | set(EXT_QUERIES)
    # and the window is a strict prefix of it (driver contract)
    assert tuple(entrymod.queries())[: len(entrymod._WINDOW)] == entrymod._WINDOW


def test_bench_keys_are_unique_and_registered():
    """bench.py looks its keys up only after a long warm-up, so a stale
    or repeated key must fail here instead."""
    import bench

    keys = bench.BENCH_QUERIES
    assert len(keys) == len(set(keys)), "bench.py repeats a key"
    missing = set(keys) - set(entrymod.queries())
    assert not missing, f"bench.py keys not registered: {sorted(missing)}"


import pytest


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_html_oracle_corpus_assumptions_hold(sf):
    """The ext_html_extract / ext_html_boilerplate closed-form oracles
    assume the fixture corpus: (a) documents.text and documents.lang
    are <,>,&-free (the synth HTML embeds them raw), (b) lang is
    never empty/whitespace-only (the boilerplate CASE relies on it).
    This test turns a silent engine-divergence on a fixture change
    into a loud failure — checked over the FULL fixture ladder (the
    oracles are graded at sf0.01 by the driver and sf0.1 by the
    sweep, not just SF_SMOKE; ADVICE r10). The pre-r11 exotic-
    whitespace assumption is GONE: the synth expression now
    normalizes it identically in both engines (markup.py hardening,
    attested by test_html_oracles_survive_exotic_whitespace)."""
    import duckdb

    con = duckdb.connect()
    bad = con.sql(
        f"""
        SELECT count(*) FROM read_parquet('/root/testdata/{sf}/documents.parquet')
        WHERE regexp_matches(text, '[<>&]')
           OR regexp_matches(lang, '[<>&]')
           OR trim(lang, E' \\t\\n\\f\\r') = ''
           OR lang IS NULL
        """
    ).fetchone()[0]
    assert bad == 0, (
        f"{bad} documents rows violate the html-oracle corpus "
        "assumptions (<>& in text/lang, or empty lang) — the "
        "closed-form oracles in functions/markup.py no longer hold"
    )


def test_fp_gated_oracles_listed_in_audit():
    """Census for the pin-liveness gate (r10 verdict #5): every oracle
    whose pins are FINGERPRINT-gated (empty result on a corpus
    change) must be in check_oracles.PINNED_FP_KEYS, detected
    mechanically from the committed SQL corpus — a new pinned key
    can't silently skip the liveness gate, and a graduated key can't
    linger in the list."""
    import importlib.util
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracles",
        os.path.join(repo, "scripts", "check_oracles.py"),
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    detected = set()
    for fn in os.listdir(os.path.join(repo, "queries")):
        if not fn.endswith(".sql"):
            continue
        sql = open(os.path.join(repo, "queries", fn)).read()
        gated = (
            "corpus_fp" in sql
            or re.search(r"CASE fp\.v", sql)
            or ("pins(" in sql and "(SELECT COUNT(*) FROM" in sql)
        )
        if gated:
            detected.add(fn[:-4])
    assert detected == set(audit.PINNED_FP_KEYS), (
        f"fp-gated census drifted: detected {sorted(detected)} vs "
        f"listed {sorted(audit.PINNED_FP_KEYS)}"
    )


def test_pinned_fingerprint_liveness_trips_on_perturbed_fixture(tmp_path):
    """The liveness gate must (a) pass on the live ladder and (b) trip
    when the fixture is regenerated: dropping ONE documents row makes
    the documents-fingerprinted pins (bpe/classifier/langid) stale
    while the orders/embeddings-keyed pins stay live."""
    import importlib.util
    import os

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracles",
        os.path.join(repo, "scripts", "check_oracles.py"),
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    # (a) live ladder: nothing stale
    assert audit.pinned_liveness(oracles) == {}
    # (b) perturbed copy of sf0.001: documents loses one row
    d = str(tmp_path / "perturbed")
    os.makedirs(d)
    for f in os.listdir(SF_SMOKE):
        if f == "documents.parquet":
            duckdb.sql(
                f"COPY (SELECT * FROM read_parquet('{SF_SMOKE}/{f}') "
                f"WHERE doc_id <> 0) TO '{d}/{f}' (FORMAT PARQUET)"
            )
        else:
            os.symlink(os.path.join(SF_SMOKE, f), os.path.join(d, f))
    stale = audit.pinned_liveness(oracles, [d])
    stale_keys = {k.split("@")[0] for k in stale}
    assert stale_keys == {
        "ext_bpe_train", "ext_quality_classifier", "ext_lang_id_trained"
    }, stale
