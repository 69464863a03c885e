"""util.SessionMemo, the one bounded per-application LRU memo behind the
engine's session memos, and a guard that keeps it the only one."""

from __future__ import annotations

import ast
from pathlib import Path
from types import SimpleNamespace

from sensomics_data_pipeline_spark import util
from sensomics_data_pipeline_spark.util import SessionMemo, clear_memos

REPO = Path(__file__).resolve().parent.parent
ENGINE_MEMOS = {"interval_stats", "auto_rerank", "n_vectors", "eval_gram",
                "static_side", "survivor", "corpus", "clique_pair", "bpe"}


def _session(app_id: str):
    """The memo reads nothing of a session but its application id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


APP = _session("app-1")


def test_memo_holds_at_most_max_entries():
    memo = SessionMemo("probe", 3)
    for i in range(10):
        memo.put(APP, i, i * 10)
        assert len(memo) == min(i + 1, 3)
    assert [memo.get(APP, i) for i in range(10)] == [None] * 7 + [70, 80, 90]


def test_memo_hit_protects_entry_from_next_eviction():
    memo, calls = SessionMemo("probe", 2), []
    for key in ("a", "b", "a", "c"):  # the hit on a makes b the oldest
        memo.get_or_compute(APP, key, lambda k=key: calls.append(k) or k)
    assert calls == ["a", "b", "c"]
    assert [memo.get(APP, k) for k in "abc"] == ["a", None, "c"]


def test_memo_release_runs_on_eviction_and_on_clear_memos():
    released = []
    memo = SessionMemo("probe", 2, release=released.append)
    for key, value in (("a", "A"), ("b", "B"), ("a", "A2")):
        memo.put(APP, key, value)  # replacing a key releases nothing
    assert released == []
    memo.put(APP, "c", "C")
    assert released == ["B"]
    clear_memos()
    assert sorted(released) == ["A2", "B", "C"] and len(memo) == 0


def test_memo_never_shares_entries_across_applications():
    memo = SessionMemo("probe", 4)
    one, two = _session("app-1"), _session("app-2")
    assert memo.get_or_compute(one, "k", lambda: "one") == "one"
    assert memo.get(two, "k") is None
    assert memo.get_or_compute(two, "k", lambda: "two") == "two"
    assert (memo.get(one, "k"), memo.get(two, "k"), len(memo)) == (
        "one", "two", 2)


def test_memo_none_key_recomputes_every_call():
    memo, calls = SessionMemo("probe", 4), []
    for i in range(3):
        assert memo.get_or_compute(APP, None, lambda: calls.append(i) or i) == i
    assert calls == [0, 1, 2] and len(memo) == 0


def test_plan_fingerprint_is_none_when_plan_cannot_be_hashed():
    def fails():
        raise RuntimeError("no plan")

    def df(plan, files):
        return SimpleNamespace(semanticHash=plan, inputFiles=files)

    fp = util.plan_fingerprint
    assert fp(df(fails, lambda: [])) is None
    assert fp(df(lambda: 7, fails)) == (7, None)
    assert fp(df(lambda: 7, lambda: ["b", "a"])) == (7, hash(("a", "b")))
    assert fp(df(lambda: 7, lambda: ["a", "b", "c"]))[1] != hash(("a", "b"))


def test_clear_memos_reaches_every_engine_memo():
    import __spark_entry__  # noqa: F401
    from sensomics_data_pipeline_spark.operators import (  # noqa: F401
        intervals, similarity, text)
    from sensomics_data_pipeline_spark.streaming import ingest  # noqa: F401

    memos = [m for m in list(util._MEMOS) if m.name in ENGINE_MEMOS]
    assert sorted(m.name for m in memos) == sorted(ENGINE_MEMOS)
    for m in memos:
        # a value every release hook accepts: the static-side hook
        # unpacks a triple, the corpus hook looks for an attribute
        m.put(_session("memo-guard"), "probe", (None, None, None))
    clear_memos()
    assert {m.name: len(m) for m in memos} == dict.fromkeys(ENGINE_MEMOS, 0)


def test_no_module_level_memo_is_hand_rolled():
    """Every module-level ``*_MEMO`` of the package and the entry module
    is a SessionMemo, and no ``*_MEMO_MAX`` bound remains."""
    files = [REPO / "__spark_entry__.py",
             *sorted((REPO / "sensomics_data_pipeline_spark").rglob("*.py"))]
    bad = []
    for path in files:
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.Assign, ast.AnnAssign)):
                continue
            targets = getattr(node, "targets", None) or [node.target]
            is_memo = isinstance(node.value, ast.Call) and getattr(
                node.value.func, "id", "") == "SessionMemo"
            for name in (getattr(t, "id", "") for t in targets):
                if name.endswith("_MEMO_MAX") or (
                        name.endswith("_MEMO") and not is_memo):
                    bad.append(f"{path.name}:{node.lineno} {name}")
    assert bad == []
