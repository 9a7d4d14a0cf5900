"""Staleness-detection contract for the verified-evidence snapshot.

VERDICT r4 #2: the r4 `_impl_hash` saw only `getsource(fn)` + oracle,
so an edit to a shared helper (e.g. ``tokens()`` in
operators/textops.py) or to a module-level constant left dependent ids
"verified" for a full round. The r5 payload adds (a) the defining
module's shared context (module source minus every registered fn's own
body) and (b) a digest over the shared helper modules. These tests pin
that contract without touching real source files.
"""

from __future__ import annotations

import importlib
import inspect

import pytest

entry = importlib.import_module("__spark_entry__")
from duckdb_data_eng_proj_spark.queries import REGISTRY  # noqa: E402


def test_module_context_excludes_registered_fn_bodies():
    # Editing one registered fn must NOT churn its module siblings:
    # the context is the module source with every registered fn body
    # stripped out.
    ctx = entry._module_context("duckdb_data_eng_proj_spark.queries.training")
    fuzzy_src = inspect.getsource(REGISTRY["dedup_fuzzy_edit"].fn)
    assert fuzzy_src not in ctx
    # A registered fn's own body appears in its payload via getsource,
    # not via context — sibling hash unchanged when only fuzzy edits.


def test_module_context_includes_module_constants():
    # Module-level shared context (the exact r4 blind-spot class:
    # _LSH_PRELUDE feeds several oracles and candidate generators)
    # must be part of every training id's payload.
    ctx = entry._module_context("duckdb_data_eng_proj_spark.queries.training")
    assert "_LSH_PRELUDE" in ctx


def test_helper_module_edit_flips_dependent_hash_only(monkeypatch):
    # The r7 contract (VERDICT r6 #2): a helper edit must change the
    # impl hash of ids whose defining module imports that helper, and
    # must NOT change ids whose module doesn't — so routine helper
    # edits no longer invalidate the whole 232-id registry.
    import os

    dep_spec = REGISTRY["dedup_fuzzy_edit"]   # training.py imports textops, lsh
    indep_spec = REGISTRY["tpch_q1"]          # tpch.py imports neither
    textops = os.path.join(entry._PKG_DIR, "operators", "textops.py")
    lsh = os.path.join(entry._PKG_DIR, "operators", "lsh.py")
    dep_closure = entry._deps_closure(
        os.path.abspath(entry.sys.modules[dep_spec.fn.__module__].__file__))
    indep_closure = entry._deps_closure(
        os.path.abspath(entry.sys.modules[indep_spec.fn.__module__].__file__))
    assert textops in dep_closure
    assert textops not in indep_closure
    assert lsh not in indep_closure
    # Every MinHash consumer module sees the LSH primitive, so an edit
    # to it re-enqueues all of them.
    for mod in ("training", "corpus", "extras_r12", "extras_r13"):
        path = os.path.join(entry._PKG_DIR, "queries", f"{mod}.py")
        assert lsh in entry._deps_closure(path), mod

    for helper in (textops, lsh):
        h_dep_1 = entry._impl_hash(dep_spec)
        h_indep_1 = entry._impl_hash(indep_spec)
        real_digest = entry._file_digest

        def fake_digest(path, helper=helper):
            if path == helper:
                return "edited-helper-digest"
            return real_digest(path)

        monkeypatch.setattr(entry, "_file_digest", fake_digest)
        entry._deps_digest.cache_clear()
        h_dep_2 = entry._impl_hash(dep_spec)
        h_indep_2 = entry._impl_hash(indep_spec)
        monkeypatch.undo()
        entry._deps_digest.cache_clear()  # restore clean cache state
        assert h_dep_1 != h_dep_2, helper
        assert h_indep_1 == h_indep_2, helper


def test_cross_query_module_import_is_a_dependency():
    # extras_r6 lazily imports training helpers (_hyperplanes) inside
    # fn bodies — those must count as dependencies too, or a training
    # helper rewrite coasts under extras_r6 green rows.
    import os

    training = os.path.join(entry._PKG_DIR, "queries", "training.py")
    extras_r6 = os.path.join(entry._PKG_DIR, "queries", "extras_r6.py")
    assert training in entry._deps_closure(extras_r6)


def test_module_context_edit_flips_hash(monkeypatch):
    # A change to the defining module's shared context (constant /
    # unregistered helper) must flip the hash even when the fn body
    # and oracle are untouched.
    spec = REGISTRY["dedup_fuzzy_edit"]
    h1 = entry._impl_hash(spec)
    real_ctx = entry._module_context(spec.fn.__module__)
    monkeypatch.setattr(
        entry, "_module_context", lambda m: real_ctx + "\n_NEW_CONST = 1\n"
    )
    h2 = entry._impl_hash(spec)
    assert h1 != h2


def test_priority_ids_enumerate_first_while_unverified():
    # The four r4 evidence-gap ids must head the enumeration until
    # they earn fresh driver rows (driver truncates at ~50 slots).
    ordered = list(entry.queries())
    verified = entry._verified_green()
    pending = [q for q in entry._PRIORITY if q not in verified]
    assert ordered[: len(pending)] == pending


def test_verified_band_rotates_oldest_evidence_first():
    # r7 contract (VERDICT r6 item 5), refined in r8 (VERDICT r7
    # item 5) and made self-expiring in r9 (VERDICT r8 item 1): the
    # steering head is _recert_head() — _RECERT_PRIORITY filtered to
    # ids whose latest green evidence is still stale (≤ r5). An id
    # that gains fresh evidence drops out of the head automatically,
    # so a driver run that re-certifies the named stragglers can never
    # turn this test red. AFTER the (possibly empty) steered head the
    # band must enumerate in ascending latest-green-round order.
    ordered = list(entry.queries())
    verified = entry._verified_green()
    rounds = entry._latest_green_rounds()
    band3 = [q for q in ordered if q in verified]
    head = [q for q in entry._recert_head() if q in verified]
    assert band3[: len(head)] == head
    # self-expiry invariant: every id in the filtered head is stale by
    # construction (the complementary direction is exercised against a
    # synthetic rounds fixture below — asserting it here against the
    # same _latest_green_rounds data would restate the definition,
    # ADVICE r9).
    assert all(rounds.get(q, 0) <= entry._RECERT_STALE_MAX for q in head)
    tail_seq = [rounds.get(q, 0) for q in band3[len(head):]]
    assert tail_seq == sorted(tail_seq)
    # and the verified band always sits AFTER every unverified id
    first_verified = next((i for i, q in enumerate(ordered) if q in verified), len(ordered))
    assert all(q in verified for q in ordered[first_verified:])


def test_recert_head_expiry_both_directions(monkeypatch):
    # Controlled-data check of _recert_head's expiry (ADVICE r9): with
    # a synthetic rounds fixture, a stale id stays in the head, a
    # freshly re-certified id drops out, and an id with no evidence at
    # all (rounds 0) counts as stale.
    if not entry._RECERT_PRIORITY:
        pytest.skip("steering head empty this round")
    ids = list(entry._RECERT_PRIORITY)
    stale, fresh = ids[0], ids[-1]
    synthetic = {q: entry._RECERT_STALE_MAX for q in ids}
    synthetic[fresh] = entry._RECERT_STALE_MAX + 1
    synthetic.pop(stale, None)  # no evidence -> treated as round 0
    monkeypatch.setattr(entry, "_latest_green_rounds", lambda: synthetic)
    head = entry._recert_head()
    assert stale in head
    if fresh != stale:
        assert fresh not in head
    assert head == [q for q in ids if synthetic.get(q, 0) <= entry._RECERT_STALE_MAX]


def test_snapshot_never_verifies_beyond_green_rows():
    import json

    with open(entry._SNAPSHOT_PATH) as fh:
        snapshot = json.load(fh)
    # snapshot entries must reference real registry ids
    assert all(qid in REGISTRY for qid in snapshot)
    # the verified set is always the INTERSECTION of green driver rows
    # and hash-current snapshot entries: an id that loses green status
    # (e.g. gains an oracle, like fn_now_tz in r5) or whose code
    # changed can never be treated as verified via the snapshot alone
    assert entry._verified_green() <= entry._green_rows()


def test_core_hash_stable_across_processes():
    # Round-11 regression (core-hash v4): v3 folded REGISTRY (reached
    # through register()'s source) via raw repr(), whose QuerySpec fn
    # reprs embed 0x memory addresses — so the core hash differed
    # between PROCESSES and --rebless-context-only refused the entire
    # registry whenever it was actually used. Pin cross-process
    # stability by hashing one id in two fresh interpreters.
    import subprocess
    import sys as _sys

    prog = (
        "import sys; sys.path.insert(0, %r); sys.path.insert(0, %r); "
        "import update_verified_snapshot as u; "
        "from duckdb_data_eng_proj_spark.queries import REGISTRY; "
        "print(u._core_hash(REGISTRY['agg_argminmax']))"
    ) % (str(entry._HERE), str(entry._HERE) + "/scripts")
    outs = [
        subprocess.run([_sys.executable, "-c", prog],
                       capture_output=True, text=True, check=True).stdout
        for _ in range(2)
    ]
    assert outs[0] == outs[1] and outs[0].strip()


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
