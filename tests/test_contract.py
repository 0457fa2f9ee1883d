"""Driver-contract invariants (SURVEY §5 layer 2)."""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMALL


def test_entry_smoke(spark):
    import __spark_entry__ as entrypoint

    df = entrypoint.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_every_oracle_key_has_query():
    import __spark_entry__ as entrypoint

    qs, osql = entrypoint.queries(), entrypoint.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 90


def test_oracle_sql_parses_in_duckdb():
    """Every oracle statement must at least plan against empty views."""
    import __spark_entry__ as entrypoint
    from xml_processor_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    for key, sql in entrypoint.oracle_sql().items():
        con.execute(f"EXPLAIN {sql}")  # raises on any syntax/name error


def test_queries_have_aliased_columns(spark):
    """No generated column names (the driver hashes by sorted names)."""
    import __spark_entry__ as entrypoint

    bad_fragments = ("(", ")", " ", "#")
    for key, fn in entrypoint.queries().items():
        cols = fn(spark, SF_SMALL).columns
        for c in cols:
            assert not any(b in c for b in bad_fragments), f"{key}: bad col {c!r}"


def test_driver_order_is_canonical_alphabetical():
    """The driver-facing key order is plain lexicographic — canonical and
    content-independent, so no curation/rotation can steer which keys a
    capped driver run verifies (ADVICE r3). Every registered key is
    emitted exactly once."""
    import __spark_entry__ as entrypoint
    from xml_processor_spark import load_all
    from xml_processor_spark.registry import REGISTRY

    load_all()
    qs = entrypoint.queries()
    assert set(qs) == set(REGISTRY)
    assert list(qs) == sorted(REGISTRY)


def test_oracle_outputs_are_hashable_scalars(spark):
    """The driver canonicalizes results with pandas sort_values over all
    columns, which factorizes object columns — list/dict cells raise
    `unhashable type` (q_emb_normalize, CORRECTNESS_r03). Every
    oracle-bearing query must therefore emit only scalar-typed columns;
    arrays belong in digests or exploded rows."""
    import __spark_entry__ as entrypoint

    osql = entrypoint.oracle_sql()
    for key, fn in entrypoint.queries().items():
        if key not in osql:
            continue
        df = fn(spark, SF_SMALL)
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        assert not bad, f"{key}: non-scalar output columns {bad}"


@pytest.mark.slow
def test_every_query_executes_against_current_testdata(spark, queries):
    """Driver-error regression guard (VERDICT r5 #8): execute EVERY
    registered callable end-to-end once, in one session, at sf0.001.
    The r4 failure mode — the driver regenerated testdata with a changed
    parquet type (events.ts nanos→micros) and 7 keys raised only at the
    driver — surfaces here as a pytest failure instead. Smoke only:
    exceptions and empty-schema drift, no oracle compare (verify_local
    owns value correctness); limit(3) bounds driver transfer while still
    executing the full plan."""
    errs = []
    for key, fn in queries.items():
        try:
            df = fn(spark, SF_SMALL)
            assert len(df.schema.fields) > 0, "empty schema"
            df.limit(3).collect()
        except Exception as e:  # noqa: BLE001
            errs.append(f"{key}: {type(e).__name__}: {e}")
    assert not errs, f"{len(errs)} keys raised:\n" + "\n".join(errs[:10])


def test_survey_totals_match_registry():
    """The §2 'Inventory totals' prose went stale once (VERDICT r5: said
    185 when the contract was 198). Parse the sentence and assert its
    numbers against the registry so prose can't drift again."""
    import re

    import __spark_entry__ as entrypoint

    text = open("SURVEY.md").read()
    m = re.search(
        r"Inventory totals: (\d+) oracle-checked keys \((\d+) `q_\*` rows "
        r"\+ (\d+) `E-\*`\s*write/tracking keys\) \+ (\d+) rows-only `E-\*` "
        r"engine features\s*\((\d+) registered keys",
        text,
    )
    assert m, "SURVEY.md inventory-totals sentence missing or reworded"
    n_oracle, n_q, n_eo, n_rows_only, n_total = (int(g) for g in m.groups())
    qs, osql = entrypoint.queries(), entrypoint.oracle_sql()
    assert n_oracle == len(osql), (
        f"SURVEY says {n_oracle} oracle keys, registry has {len(osql)}"
    )
    assert n_q == sum(k.startswith("q_") for k in osql), "q_* oracle count drifted"
    assert n_eo == sum(k.startswith("E-") for k in osql), "E-* oracle count drifted"
    assert n_rows_only == len(qs) - len(osql), (
        f"SURVEY says {n_rows_only} rows-only keys, "
        f"registry has {len(qs) - len(osql)}"
    )
    assert n_total == len(qs), f"SURVEY says {n_total} total, registry has {len(qs)}"


def test_survey_section2_matches_registry_key_for_key():
    """SURVEY.md §2 is the graded inventory; the registry is the
    executable one. They must list exactly the same keys."""
    import re

    import __spark_entry__ as entrypoint

    text = open("SURVEY.md").read()
    sec2 = text.split("## §2.")[1].split("\n## ")[0]
    survey = set(re.findall(r"`(q_[a-z0-9_]+|E-[A-Z0-9-]+)`", sec2))
    reg = set(entrypoint.queries())
    assert survey - reg == set(), f"in SURVEY only: {sorted(survey - reg)}"
    assert reg - survey == set(), f"in registry only: {sorted(reg - survey)}"


def test_localverify_artifact_covers_registry():
    """VERDICT r7 #2: the registry must never run ahead of committed
    verification evidence (the final r7 batch shipped 8 operators with no
    committed LOCALVERIFY rows). Every registered key must appear in the
    newest committed LOCALVERIFY_r{N}.json, green — and every oracle-bearing
    key must be status 'pass', not merely rows_only. Adding an operator
    without refreshing the artifact turns this red in the same commit."""
    import glob
    import json
    import re

    import __spark_entry__ as entrypoint

    files = glob.glob("LOCALVERIFY_r*.json")
    assert files, "no committed LOCALVERIFY artifact"
    newest = max(files, key=lambda f: int(re.search(r"r(\d+)", f).group(1)))
    keys = json.load(open(newest))["keys"]
    qs, osql = entrypoint.queries(), entrypoint.oracle_sql()
    missing = sorted(set(qs) - set(keys))
    assert not missing, (
        f"{newest} lacks {len(missing)} registered keys (refresh it with "
        f"tools/verify_local.py --json): {missing[:10]}"
    )
    bad = sorted(
        k for k in qs
        if keys[k]["status"] not in ("pass", "rows_only", "tolerance_pass")
    )
    assert not bad, f"{newest} has non-green keys: {bad[:10]}"
    weak = sorted(k for k in osql if keys[k]["status"] != "pass")
    assert not weak, (
        f"{newest}: oracle-bearing keys recorded without a value-equality "
        f"pass: {weak[:10]}"
    )


def test_scratch_policy_lives_in_io_only():
    """Where written files go is one decision, made by io.scratch_dir:
    no other engine module may reach for ``tempfile`` directly."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "xml_processor_spark"
    offenders = [
        f"{p.relative_to(root)}:{n}"
        for p in sorted(root.rglob("*.py"))
        if p.name != "io.py" or p.parent != root
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "tempfile." in line
    ]
    assert not offenders, f"tempfile used outside io.py: {offenders}"


def _tree_bytes(path) -> int:
    import os

    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def test_writing_keys_leave_one_copy_not_one_per_run(
    spark, queries, tmp_path, monkeypatch
):
    """A key that writes files leaves its last run's output behind and
    nothing more: three runs leave the same bytes as one."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for key in ("E-SINK-PQ", "E-XML-SRC", "E-SHARD-WRITE"):
        queries[key](spark, SF_SMALL).collect()
        once = _tree_bytes(tmp_path)
        for _ in range(2):
            queries[key](spark, SF_SMALL).collect()
        assert _tree_bytes(tmp_path) == once, key


@pytest.mark.parametrize(
    "key",
    [
        "E-FILE-TRACK",
        "E-FOREACH-BATCH",
        "E-MULTIMODAL",
        "q_pipeline_xml_etl",
        "E-COMPACT-EXEC",
    ],
)
def test_reused_scratch_dir_gives_same_rows_twice(spark, queries, key):
    """A second run in the same session reuses the key's scratch dir; no
    state from the first run may leak in (e.g. a second file-tracking
    round re-ingesting the first round's files)."""

    def rows():
        return sorted(map(repr, queries[key](spark, SF_SMALL).collect()))

    assert rows() == rows()
