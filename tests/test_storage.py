"""Engine-state storage (``vector_search_service_spark/storage.py``): the
one versioned-pointer commit protocol under the catalog, the postings
store and the rollup store — crash points, retention, path forms, and
the rule that no other module renames, links or removes trees."""

from __future__ import annotations

import ast
import datetime
import pathlib

import pytest

from vector_search_service_spark import storage
from vector_search_service_spark.catalog import Catalog
from vector_search_service_spark.operators.fts_index import (
    PostingsStore,
    read_posting_lists,
)
from vector_search_service_spark.streaming.rollup import RollupStore, rollup_of


class Crash(RuntimeError):
    pass


def _boom(*_a, **_k):
    raise Crash("injected")


def _events(spark, hour):
    return spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, hour), "click", 1.25 * (hour + 1))],
        "ts timestamp, event_type string, value double")


# Each store case returns (read, mutate, versions): ``read()`` is the
# live content as a sorted list, ``mutate(i)`` one commit through the
# store's own write path, ``versions`` the store's storage.Versions.

def _catalog(spark, root):
    cat = Catalog(spark, root)
    cat.create_collection("c0")
    return (lambda: sorted(c["name"] for c in cat.list_collections()),
            lambda i: cat.create_collection(f"c{i}"),
            cat._versions)


def _postings(spark, root):
    store = PostingsStore(spark, root)

    def docs(hi):
        return spark.createDataFrame(
            [(f"d{i}", [f"w{i}", "common"]) for i in range(hi + 1)],
            "document_id string, content_lexemes array<string>")

    store.append(1, docs(0))
    return (lambda: sorted(tuple(r) for r in store.postings(1).collect()),
            lambda i: store.rewrite(1, docs(i)),
            store._versions(1))


def _rollup(spark, root):
    store = RollupStore(spark, root)
    store.write_merged(rollup_of(_events(spark, 0)), 0)
    return (lambda: sorted(tuple(r) for r in store.current().collect()),
            lambda i: store.write_merged(rollup_of(_events(spark, i)), i),
            store._versions)


@pytest.mark.parametrize("form", ["path", "file_uri"])
@pytest.mark.parametrize("case", [_catalog, _postings, _rollup],
                         ids=["catalog", "postings", "rollup"])
def test_commit_crash_points_and_retention(spark, tmp_path, monkeypatch, case, form):
    root = tmp_path / "store"
    read, mutate, versions = case(spark, str(root) if form == "path" else root.as_uri())
    old, live_before = read(), versions.live()

    # crash at the publish step: the new version is written but the
    # pointer never moved — the old version is live and complete
    monkeypatch.setattr(storage.Versions, "publish", _boom)
    with pytest.raises(Crash):
        mutate(1)
    monkeypatch.undo()
    assert versions.live() == live_before
    assert read() == old

    # crash after the publish, before the prune: the new version is live
    monkeypatch.setattr(storage.Versions, "prune", _boom)
    with pytest.raises(Crash):
        mutate(1)
    monkeypatch.undo()
    assert versions.live() > live_before
    new = read()
    assert new != old and set(old) <= set(new)

    # retention: the next clean commit prunes to current + previous
    mutate(2)
    assert versions.versions() == [versions.live() - 1, versions.live()]
    assert set(new) < set(read())


@pytest.mark.parametrize("root", ["s3a://bucket/store", "hdfs://nn:8020/store"])
def test_non_file_scheme_raises(spark, root):
    """No engine-state write or manifest check half-works on a
    filesystem without the atomic rename the protocol needs."""
    match = "unsupported filesystem scheme"
    with pytest.raises(ValueError, match=match):
        Catalog(spark, root)
    with pytest.raises(ValueError, match=match):
        RollupStore(spark, root)
    with pytest.raises(ValueError, match=match):
        PostingsStore(spark, root).live_dir(1)
    with pytest.raises(ValueError, match=match):
        read_posting_lists(spark, root, [])


def test_rollup_reads_two_line_pointer(spark, tmp_path):
    """Rollup pointers used to carry the applied batch id on a second
    line; the watermark now comes from the version name, and the old
    format still reads (and still makes a replay a no-op)."""
    store = RollupStore(spark, str(tmp_path))
    store.write_merged(rollup_of(_events(spark, 0)), 3)
    (tmp_path / "CURRENT").write_text("v0000000003\n3")
    assert store._read_pointer() == ("v0000000003", 3)
    store.write_merged(rollup_of(_events(spark, 1)), 3)  # replay: skipped
    assert store.current().count() == 1


def test_only_storage_renames_links_or_removes_trees():
    """The versioned-pointer protocol lives in storage.py alone: no
    other package module may call os.replace, os.link or
    shutil.rmtree."""
    pkg = pathlib.Path(storage.__file__).parent
    banned = {("os", "replace"), ("os", "link"), ("shutil", "rmtree")}
    found = []
    for py in sorted(pkg.rglob("*.py")):
        if py == pathlib.Path(storage.__file__):
            continue
        for node in ast.walk(ast.parse(py.read_text(), str(py))):
            if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                    and (node.value.id, node.attr) in banned):
                found.append(f"{py.relative_to(pkg)}:{node.lineno} "
                             f"{node.value.id}.{node.attr}")
            elif isinstance(node, ast.ImportFrom) and node.module in ("os", "shutil"):
                found += [f"{py.relative_to(pkg)}:{node.lineno} from "
                          f"{node.module} import {a.name}"
                          for a in node.names if (node.module, a.name) in banned]
    assert not found, found
