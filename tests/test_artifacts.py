"""The session-artifact store (``artifacts.shared``): keying, eviction
and the guard that keeps it the package's only session memo. No Spark
job runs here; the builders count their calls."""

from __future__ import annotations

import ast
import pathlib
from types import SimpleNamespace

import pytest

from historical_obs_platform_spark import artifacts

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / (
    "historical_obs_platform_spark"
)

# Module-level empty containers that are not session memos: the query
# and oracle catalogs the @query decorator fills at import, and the
# per-application set of sessions that already got their runtime conf.
ALLOWED = {
    "registry.py": {"QUERIES", "ORACLES"},
    "session.py": {"_TUNED"},
}


def _fake_spark(app_id="app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def store(monkeypatch):
    """An empty store, so the session's own entries are not touched."""
    monkeypatch.setattr(artifacts, "_STORE", {})
    return artifacts._STORE


def _empty_container(value) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    return (
        isinstance(value, ast.Call)
        and isinstance(value.func, ast.Name)
        and value.func.id in ("dict", "set")
        and not value.args
        and not value.keywords
    )


def test_no_private_memo_outside_artifacts():
    """A module-level dict or set that starts empty is a memo that
    ``unshare_all()`` cannot see; session memos go through
    ``artifacts.shared``."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "artifacts.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if not _empty_container(value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if name not in ALLOWED.get(rel, set()):
                    found.append(f"{rel}:{node.lineno} {name}")
    assert found == []


def test_one_build_per_key(store):
    calls = []

    @artifacts.shared
    def build(spark, sf_dir, n=16, iters=1):
        calls.append((sf_dir, n, iters))
        return object()

    spark = _fake_spark()
    first = build(spark, "/d")
    # positional, keyword and default spellings share one entry
    assert build(spark, "/d", 16) is first
    assert build(spark, "/d", iters=1) is first
    assert build(spark, sf_dir="/d", n=16, iters=1) is first
    assert calls == [("/d", 16, 1)]
    # different parameters, data dir or application: new entries
    assert build(spark, "/d", 8) is not first
    assert build(spark, "/e") is not first
    assert build(_fake_spark("app-2"), "/d") is not first
    assert len(calls) == 4
    assert len(store) == 4


def test_builders_do_not_share_entries(store):
    @artifacts.shared
    def a(spark, sf_dir):
        return "a"

    @artifacts.shared
    def b(spark, sf_dir):
        return "b"

    spark = _fake_spark()
    assert (a(spark, "/d"), b(spark, "/d")) == ("a", "b")
    assert len(store) == 2


def test_key_of_keys_unhashable_and_identity_arguments(store):
    calls = []

    @artifacts.shared(point=lambda p: p["sfx"], cents=id)
    def build(spark, sf_dir, point, cents):
        calls.append(point["sfx"])
        return [point["sfx"], len(cents)]

    spark = _fake_spark()
    cents_a, cents_b = [1, 2], [1, 2]
    first = build(spark, "/d", {"sfx": "_a", "m": 4}, cents_a)
    # an equal dict with the same sfx and the same codebook object hits
    assert build(spark, "/d", {"sfx": "_a", "m": 4}, cents_a) is first
    # an equal but different codebook object rebuilds
    assert build(spark, "/d", {"sfx": "_a", "m": 4}, cents_b) is not first
    assert calls == ["_a", "_a"]
    # each entry holds the object its id() key part came from, so that
    # id cannot be reused while the entry lives
    pinned = [v for entry in store.values() for v in entry[1]]
    assert any(v is cents_a for v in pinned)
    assert any(v is cents_b for v in pinned)


def test_unshare_all_empties_the_store_and_next_call_rebuilds(store):
    calls = []

    @artifacts.shared
    def build(spark, sf_dir, tag="x"):
        calls.append(tag)
        return object()

    spark = _fake_spark()
    first = build(spark, "/d")
    build(spark, "/d", "y")
    build(spark, "/e")
    assert artifacts.unshare_all() == 3
    assert artifacts._STORE == {}
    assert all(d == {} for d in artifacts._memo_dicts())
    assert build(spark, "/d") is not first
    assert calls == ["x", "y", "x", "x"]
    assert len(artifacts._STORE) == 1


def test_failed_build_leaves_no_entry(store):
    @artifacts.shared
    def build(spark, sf_dir, name):
        raise KeyError(name)

    with pytest.raises(KeyError):
        build(_fake_spark(), "/d", "nope")
    assert store == {}
