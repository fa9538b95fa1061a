"""End-to-end engine tests: the reference's golden transfer/worker
integration scenarios (transfer.spec.js:333-545, worker.spec.js:64-143)
on the Spark engine."""
import json

import pytest

from pyspark.sql import functions as F

from chillastic_spark.engine import Engine, TaskError, TaskState, Transfer
from chillastic_spark.model import ActionRef, Subtask, Task, TransferSpec
from chillastic_spark.sinks import upsert
from chillastic_spark.sources import DocumentStore

from conftest import docs_f1

DATE_MUTATOR = """
TYPE = "data"
OLD = re.compile(r"^(.*)_(\\d{4}-\\d{2})-\\d{2}$")
def predicate(doc, args):
    return bool(OLD.match(doc["_index"]))
def mutate(doc, args):
    doc["_index"] = OLD.sub(r"\\1_\\2", doc["_index"])
    return doc
"""

DROP_WITH_ARGS = """
TYPE = "data"
def predicate(doc, args):
    return doc["_source"].get("field") == args["match"]
def mutate(doc, args):
    return None
"""


def _engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "state"))


def _task(src, dst, **kw):
    return Task(source=src.root, destination=dst.root,
                transfer=TransferSpec(**kw.pop("transfer", {})), **kw)


# ------------------------------------------------- golden 20-doc transfer


def test_golden_transfer_20_docs(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(20)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex1"}))
    status = eng.run_task("t1")
    assert status["percentComplete"] == 100.0
    assert status["completed"] == 20
    assert dst.count(spark, "myindex1") == 20
    # payload survived intact
    row = dst.read(spark, "myindex1").filter(F.col("_id") == "id7").collect()[0]
    assert json.loads(row["_source"]) == {"someField_1": "something 7"}


def test_rerun_is_idempotent(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(20)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex1"}))
    eng.run_task("t1")
    eng.build_backlog("t1")  # resume: completed subtasks are skipped
    status = eng.run_task("t1")
    assert dst.count(spark, "myindex1") == 20
    assert status["backlog"] == 0


def test_two_index_worker_golden(spark, tmp_path, store_factory):
    # worker.spec.js:64-143 golden: 10 + 5 docs across two indices
    src = store_factory(
        "src", {"myindex1": docs_f1(10), "myindex2": docs_f1(5, "mytype2")}
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex*"}))
    status = eng.run_task("t1")
    assert status["total"] == 15
    assert status["completed"] == 15
    assert dst.count(spark, "myindex1") == 10
    assert dst.count(spark, "myindex2") == 5


def test_shared_mode_run_and_second_exclusive_writer_refused(spark, tmp_path, store_factory):
    """run_task(shared=True) drains via per-op atomic state rounds (the
    N-worker protocol) and produces the same golden result; meanwhile
    the DEFAULT mode still refuses a second concurrent writer."""
    src = store_factory(
        "src", {"myindex1": docs_f1(10), "myindex2": docs_f1(5, "mytype2")}
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex*"}))
    status = eng.run_task("t1", shared=True)
    assert status["completed"] == 15
    assert dst.count(spark, "myindex1") == 10
    # exclusive-mode exclusion is still enforced against a live holder
    holder = TaskState(str(tmp_path / "state"), "t1").acquire_writer()
    try:
        other = TaskState.__new__(TaskState)  # fresh lock fd, same file
        other.__init__(str(tmp_path / "state"), "t1")
        with pytest.raises(TaskError):
            other.acquire_writer(blocking=False)
    finally:
        holder.release_writer()


# O1 index comparator (examples/comparators/indices.js re-expressed in
# sandboxed Python: dated indices sort NEWEST first, non-dated lead,
# alphabetical tie-break)
DATE_COMPARATOR = """
import re
import datetime
OLD = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}$")
def _key(s):
    m = OLD.search(s)
    return datetime.datetime.strptime(m.group(0), "%Y-%m-%d") if m else None
def compare(a, b):
    ka, kb = _key(a), _key(b)
    if ka is not None and kb is not None:
        if ka != kb:
            return 1 if kb > ka else -1
        return (a > b) - (a < b)
    if ka is not None:
        return 1
    if kb is not None:
        return -1
    return (a > b) - (a < b)
"""


def test_index_comparator_orders_backlog(spark, tmp_path, store_factory):
    src = store_factory(
        "src",
        {
            "logs_2020-01-01": docs_f1(2),
            "logs_2021-06-01": docs_f1(2),
            "alpha": docs_f1(2),
        },
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    state = eng.add_task(
        "t1",
        _task(src, dst, transfer={
            "from_indices": "*", "index_comparator": DATE_COMPARATOR,
        }),
    )
    order = [json.loads(sid)["index"] for sid, _ in state.data["backlog"]]
    assert order == ["alpha", "logs_2021-06-01", "logs_2020-01-01"]
    # and a broken comparator is an admission error, not a runtime one
    with pytest.raises(TaskError):
        eng.add_task(
            "t2",
            _task(src, dst, transfer={
                "from_indices": "*", "index_comparator": "compare = 3",
            }),
        )
    with pytest.raises(TaskError):  # sandbox applies to comparators too
        eng.add_task(
            "t3",
            _task(src, dst, transfer={
                "from_indices": "*",
                "index_comparator": "import os\ndef compare(a,b):\n    return 0",
            }),
        )


# ---------------------------------------------------------- data mutators


def test_date_reroute_mutator(spark, tmp_path, store_factory):
    # transfer.spec.js:487-511: something_1990-05-21 → something_1990-05
    docs = [
        {"_id": i, "_type": "sometype", "_source": {"field": f"daata{i}"}}
        for i in range(4)
    ]
    src = store_factory("src", {"something_1990-05-21": docs})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.mutators.add("indexDate", DATE_MUTATOR)
    eng.add_task(
        "t1",
        _task(
            src, dst,
            transfer={"from_indices": "something_*"},
            mutators=[ActionRef(id="indexDate")],
        ),
    )
    eng.run_task("t1")
    assert dst.count(spark, "something_1990-05") == 4
    assert dst.count(spark, "something_1990-05-21") == 0


def test_drop_mutator_with_args(spark, tmp_path, store_factory):
    # transfer.spec.js:513-545: null-mutate drops matching docs only
    docs = [
        {"_id": 1, "_source": {"field": "daata"}},
        {"_id": 2, "_source": {"field": "daata2"}},
        {"_id": 3, "_source": {"field": "daata3"}},
    ]
    src = store_factory("src", {"myindex1": docs})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.mutators.add("dropper", DROP_WITH_ARGS)
    eng.add_task(
        "t1",
        _task(
            src, dst,
            transfer={"from_indices": "myindex1"},
            mutators=[ActionRef(id="dropper", arguments={"match": "daata2"})],
        ),
    )
    eng.run_task("t1")
    remaining = {
        r["_id"] for r in dst.read(spark, "myindex1").select("_id").collect()
    }
    assert remaining == {"1", "3"}


# -------------------------------------------------- catalog (index/template)


def test_index_config_transfer_strips_nonportable(spark, tmp_path, store_factory):
    cfg = {
        "myindex1": {
            "settings": {
                "index": {
                    "number_of_shards": 3,
                    "uuid": "abc",
                    "creation_date": 123,
                    "provided_name": "myindex1",
                    "version": {"created": 6000},
                }
            },
            "mappings": {"mytype1": {}},
            "aliases": {"alias_1": {}},
            # warmers ride along like any other config blob
            # (transfer.js:364-372, transfer.spec.js:240)
            "warmers": {"warmer_1": {"types": [], "source": {"query": {"match_all": {}}}}},
        }
    }
    src = store_factory("src", {}, indices_cfg=cfg)
    dst = store_factory("dst")
    t = Transfer(spark, src, dst)
    assert t.transfer_indices("myindex*") == 1
    got = dst.get_indices("myindex1")[0]
    idx = got["settings"]["index"]
    assert idx["number_of_shards"] == 3
    for bad in ("uuid", "creation_date", "provided_name"):
        assert bad not in idx
    assert "created" not in idx.get("version", {})
    assert got["aliases"] == {"alias_1": {}}
    assert got["warmers"] == {
        "warmer_1": {"types": [], "source": {"query": {"match_all": {}}}}
    }


def test_template_transfer_excludes_system(spark, tmp_path, store_factory):
    templates = {
        "test_template": {"index_patterns": ["te*"], "settings": {"number_of_shards": 1}},
        "system_tpl": {"index_patterns": [".monitoring*"]},
    }
    src = store_factory("src", {}, templates=templates)
    dst = store_factory("dst")
    t = Transfer(spark, src, dst)
    assert t.transfer_templates("*") == 1  # system template dropped
    assert [x["name"] for x in dst.get_templates("*")] == ["test_template"]
    with pytest.raises(Exception):
        src.get_templates("nomatch*")  # none found → error (transfer.js:397)


# ------------------------------------------------------ admission/controls


def test_task_admission_validation(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(2)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    with pytest.raises(ValueError):
        eng.add_task("9bad id", _task(src, dst, transfer={"from_indices": "x"}))
    with pytest.raises(TaskError):  # missing mutator
        eng.add_task(
            "t1",
            _task(src, dst, transfer={"from_indices": "myindex1"},
                  mutators=[ActionRef(id="nope")]),
        )
    eng.add_task("t2", _task(src, dst, transfer={"from_indices": "myindex1"}))
    with pytest.raises(TaskError):  # duplicate
        eng.add_task("t2", _task(src, dst, transfer={"from_indices": "myindex1"}))
    assert eng.list_tasks() == ["t2"]
    eng.remove_task("t2")
    assert eng.list_tasks() == []


def test_filters_prune_planning(spark, tmp_path, store_factory):
    src = store_factory(
        "src", {"myindex1": docs_f1(3), "other1": docs_f1(3)}
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.filters.add(
        "onlyMy",
        "TYPE='index'\ndef predicate(index, args):\n    return index['name'].startswith('myindex')\n",
    )
    eng.add_task(
        "t1",
        _task(
            src, dst,
            transfer={"from_indices": "*", "filters": [ActionRef(id="onlyMy")]},
        ),
    )
    eng.run_task("t1")
    assert dst.count(spark, "myindex1") == 3
    assert dst.count(spark, "other1") == 0


def test_stop_halts_processing(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex1"}))
    eng.stop()
    status = eng.run_task("t1")
    assert status["completed"] == 0 and status["backlog"] == 5
    eng.start()
    assert eng.run_task("t1")["completed"] == 5


def test_error_logged_not_requeued(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(2)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    bad = "TYPE='data'\ndef predicate(d,a):\n    return True\ndef mutate(d,a):\n    raise RuntimeError('boom')\n"
    eng.mutators.add("boom", bad)
    eng.add_task(
        "t1",
        _task(src, dst, transfer={"from_indices": "myindex1"},
              mutators=[ActionRef(id="boom")]),
    )
    status = eng.run_task("t1")
    assert status["completed"] == 0
    assert status["backlog"] == 0  # popped, failed, NOT re-queued (worker.js:108)
    errs = eng.get_task_errors("t1")
    assert len(errs) == 1 and "boom" in errs[0]["message"]
    # backlog rebuild resurrects the failed subtask (subtasks.js:385-392)
    eng.build_backlog("t1")
    assert eng.get_task_status("t1")["backlog"] == 2


# ------------------------------------------------------------------- sink


def test_upsert_idempotent_and_updates(spark, tmp_path, store_factory):
    dst = store_factory("dst")
    from chillastic_spark.sources import ENVELOPE_SCHEMA

    batch = spark.createDataFrame(
        [("i1", "t", "a", '{"v": 1}', 8), ("i1", "t", "b", '{"v": 2}', 8)],
        ENVELOPE_SCHEMA,
    )
    assert upsert(spark, dst, batch) == 2
    assert upsert(spark, dst, batch) == 2  # re-delivery → no dups
    assert dst.count(spark, "i1") == 2
    updated = spark.createDataFrame(
        [("i1", "t", "b", '{"v": 99}', 9)], ENVELOPE_SCHEMA
    )
    upsert(spark, dst, updated)
    rows = {r["_id"]: json.loads(r["_source"]) for r in dst.read(spark, "i1").collect()}
    assert rows == {"a": {"v": 1}, "b": {"v": 99}}


def test_flush_override_and_subtask_id_roundtrip():
    s = Subtask(kind="documents", index="i", type="t", min_size=0, max_size=10,
                flush_size=50, count=7)
    s2 = Subtask.from_id(s.subtask_id(), count=7)
    assert s2 == s
    assert s.has_size_range()
    assert not Subtask(kind="documents", index="i", type="t").has_size_range()


def test_restart_preserves_index_comparator(spark, tmp_path, store_factory):
    """A restarted Engine must reload the task's index_comparator —
    silently dropping it loses the index ordering (and its
    admission-time validation) after every restart."""
    src = store_factory(
        "src", {"logs_2020-01-01": docs_f1(1), "alpha": docs_f1(1)}
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task(
        "t1",
        _task(src, dst, transfer={
            "from_indices": "*", "index_comparator": DATE_COMPARATOR,
        }),
    )
    eng2 = _engine(spark, tmp_path)  # same state root, fresh process
    assert eng2.get_task("t1").transfer.index_comparator == DATE_COMPARATOR
    state = eng2.build_backlog("t1")
    order = [json.loads(sid)["index"] for sid, _ in state.data["backlog"]]
    assert order == ["alpha", "logs_2020-01-01"]


def test_add_task_rolls_back_on_planning_failure(spark, tmp_path, store_factory, monkeypatch):
    """A transient build_backlog failure must not half-admit the task:
    the retry must not hit 'already exists'."""
    src = store_factory("src", {"ix": docs_f1(2)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    orig = type(src).get_indices
    calls = {"n": 0}

    def flaky(self, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient 500 from the source")
        return orig(self, *a, **k)

    monkeypatch.setattr(type(src), "get_indices", flaky)
    with pytest.raises(RuntimeError):
        eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    assert "t1" not in eng.list_tasks()
    eng2 = _engine(spark, tmp_path)
    assert "t1" not in eng2.list_tasks()  # nothing persisted either
    # retry succeeds
    state = eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    assert len(state.data["backlog"]) == 1


def test_remove_task_refused_while_running(spark, tmp_path, store_factory):
    """remove_task fails fast when another holder has the state writer
    lock instead of racing the runner and resurrecting state files."""
    src = store_factory("src", {"ix": docs_f1(2)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    import multiprocessing as mp

    def hold(root, q):
        from chillastic_spark.engine import TaskState

        s = TaskState(root, "t1").acquire_writer()
        q.put("held")
        import time as _t

        _t.sleep(3)
        s.release_writer()

    q = mp.Queue()
    p = mp.Process(target=hold, args=(eng.state_root, q))
    p.start()
    try:
        assert q.get(timeout=10) == "held"
        with pytest.raises(TaskError, match="being written"):
            eng.remove_task("t1")
    finally:
        p.join()
    eng.remove_task("t1")  # lock released: removal proceeds
    assert "t1" not in eng.list_tasks()


def test_build_backlog_refuses_inflight_progress(spark, tmp_path, store_factory):
    """Rebuilding while subtasks are in flight would clear LIVE
    progress and re-enqueue work another process is delivering —
    refuse unless force=True (the crashed-run escape hatch)."""
    src = store_factory("src-bf", {"idx1": [
        {"_id": f"d{i}", "_type": "t", "_source": {"v": i}} for i in range(6)
    ]})
    dst = store_factory("dst-bf")
    eng = Engine(spark, str(tmp_path / "st-bf"))
    eng.add_task("t1", Task(source=src.root, destination=dst.root,
                            transfer=TransferSpec(from_indices="idx1")))
    state = TaskState(str(tmp_path / "st-bf"), "t1")
    state.data["progress"]["doc:idx1:0"] = {"ts": 1}
    state.save()
    with pytest.raises(TaskError, match="in-flight"):
        eng.build_backlog("t1")
    eng.build_backlog("t1", force=True)  # crashed-run override


def test_removed_task_state_is_not_resurrected(spark, tmp_path):
    """A shared-mode worker whose state file was deleted by
    remove_task must ABORT its next state op, not re-save the stale
    in-memory copy as an orphan task file."""
    import os

    root = str(tmp_path / "st-rm")
    s1 = TaskState(root, "tx")
    s1.data["total"] = 5
    s1.save()
    s2 = TaskState(root, "tx")  # the running worker's handle
    os.remove(s1.path)  # remove_task deleted it mid-run
    with pytest.raises(TaskError, match="removed"):
        s2.log_error(None, "boom")  # shared-mode atomic op
    assert not os.path.exists(s1.path)  # nothing resurrected


# ------------------------------------------------ runs: fused subtasks


class _Parquet:
    """A store stub without ``deliver`` (the parquet shape)."""


class _Wire(_Parquet):
    """A store stub with ``deliver`` (the ES / Delta shape)."""

    def deliver(self, spark, df, flush_size=100):
        return 0


def _doc_sub(index, type_="t", lo=0, hi=604, count=5):
    return Subtask(kind="documents", index=index, type=type_,
                   min_size=lo, max_size=hi, count=count)


def _runs(tmp_path, subs, transfer, limit=None):
    """Drain a backlog of ``subs`` into runs, as run_task pops them."""
    st = TaskState(str(tmp_path / "runs"), "t")
    for s in subs:
        st.enqueue(s, save=False)
    st.save()
    out = []
    while True:
        run = st.pop_run(transfer.fuses, limit)
        if not run:
            return out
        out.append(run)


def test_run_stops_at_a_different_source_index(tmp_path):
    subs = [_doc_sub("a", "t1"), _doc_sub("a", "t1", 901, 1001),
            _doc_sub("a", "t2"), _doc_sub("b", "t1"), _doc_sub("b", "t2")]
    runs = _runs(tmp_path, subs, Transfer(None, _Parquet(), _Parquet()))
    assert [len(r) for r in runs] == [3, 2]
    assert [{s.index for s in r} for r in runs] == [{"a"}, {"b"}]


def test_run_stops_at_a_member_without_size_range(tmp_path):
    unsized = Subtask(kind="documents", index="a", type="t2", flush_size=50, count=5)
    subs = [_doc_sub("a"), unsized, _doc_sub("a", "t3")]
    runs = _runs(tmp_path, subs, Transfer(None, _Parquet(), _Parquet()))
    assert [len(r) for r in runs] == [1, 1, 1]
    # catalog subtasks never fuse either
    cat = [Subtask(kind="index", names="a"), Subtask(kind="index", names="b")]
    runs = _runs(tmp_path / "cat", cat, Transfer(None, _Parquet(), _Parquet()))
    assert [len(r) for r in runs] == [1, 1]


def test_run_stops_at_the_bulk_byte_bound(tmp_path):
    """Members' count × max_size stays within TARGET_BULK_BYTES: a run
    is never larger than one reference bulk request."""
    from chillastic_spark.plans import TARGET_BULK_BYTES

    fill = (TARGET_BULK_BYTES - 1000) // 1000  # head (1 × 1000 B) + fill × 1000 B
    at_bound = [_doc_sub("a", hi=1000, count=1), _doc_sub("a", "t2", hi=1000, count=fill)]
    runs = _runs(tmp_path, at_bound, Transfer(None, _Parquet(), _Parquet()))
    assert [len(r) for r in runs] == [2]
    over = [_doc_sub("a", hi=1000, count=1), _doc_sub("a", "t2", hi=1000, count=fill + 1)]
    runs = _runs(tmp_path / "over", over, Transfer(None, _Parquet(), _Parquet()))
    assert [len(r) for r in runs] == [1, 1]


def test_run_stops_at_the_max_subtasks_remainder(tmp_path):
    subs = [_doc_sub("a", f"t{i}") for i in range(5)]
    runs = _runs(tmp_path, subs, Transfer(None, _Parquet(), _Parquet()), limit=2)
    assert [len(r) for r in runs] == [2, 2, 1]
    st = TaskState(str(tmp_path / "spent"), "t")
    st.enqueue(subs[0])
    assert st.pop_run(Transfer(None, _Parquet(), _Parquet()).fuses, limit=0) == []
    assert len(st.data["backlog"]) == 1


@pytest.mark.parametrize("sides", [(_Wire, _Parquet), (_Parquet, _Wire), (_Wire, _Wire)])
def test_a_store_with_deliver_gives_runs_of_one(tmp_path, sides):
    src, dst = sides
    subs = [_doc_sub("a", f"t{i}") for i in range(3)]
    runs = _runs(tmp_path, subs, Transfer(None, src(), dst()))
    assert [len(r) for r in runs] == [1, 1, 1]


def test_run_pop_complete_and_fail_are_one_round_each(tmp_path, monkeypatch):
    """Popping a run writes every member's progress entry, and
    completing or failing the run updates every member, each in ONE
    state save."""
    st = TaskState(str(tmp_path / "st"), "t")
    for i in range(4):
        st.enqueue(_doc_sub("a", f"t{i}", count=i + 1), save=False)
    st.save()
    saves = []
    real_save = TaskState.save
    monkeypatch.setattr(TaskState, "save", lambda self: (saves.append(1), real_save(self)))
    fuse = Transfer(None, _Parquet(), _Parquet()).fuses
    run = st.pop_run(fuse, limit=2, with_progress=True)
    on_disk = json.load(open(st.path))
    assert len(saves) == 1 and [s.type for s in run] == ["t0", "t1"]
    assert sorted(on_disk["progress"]) == sorted(s.subtask_id() for s in run)
    assert len(on_disk["backlog"]) == 2
    st.complete(*run)
    assert len(saves) == 2
    assert st.data["completed"] == {s.subtask_id(): s.count for s in run}
    assert st.data["progress"] == {}
    rest = st.pop_run(fuse, with_progress=True)
    st.fail(*rest, message="boom")
    assert len(saves) == 4 and st.data["progress"] == {}
    assert [e["subtask_id"] for e in st.data["errors"]] == [s.subtask_id() for s in rest]


def _sized(prefix, type_, n_small=4, n_big=2):
    """Docs whose ``_size`` splits one (index, type) into two planned
    size ranges, [0, 604) and [901, 1001)."""
    return [
        {"_id": f"{prefix}-{type_}-{i}", "_type": type_, "_source": {"v": i},
         "_size": 10 if i < n_small else 1000}
        for i in range(n_small + n_big)
    ]


def _rows(store, spark, index):
    return sorted(
        (r["_index"], r["_type"], r["_id"], r["_source"], r["_size"])
        for r in store.read(spark, index).collect()
    )


def _count_upserts(monkeypatch):
    import chillastic_spark.engine as engine_mod

    calls = []
    real = engine_mod.upsert

    def counting(spark, store, df, *a, **k):
        calls.append(1)
        return real(spark, store, df, *a, **k)

    monkeypatch.setattr(engine_mod, "upsert", counting)
    return calls


def _two_day_corpus():
    return {
        day: _sized(day, "t1") + _sized(day, "t2")
        for day in ("logs_2024-01-01", "logs_2024-01-02")
    }


def test_parquet_task_upserts_once_per_source_index(spark, tmp_path, store_factory, monkeypatch):
    """2 source indices × 2 types × 2 size ranges: 8 planned subtasks,
    2 runs, one upsert each; the destination holds exactly the mutated
    source rows."""
    corpus = _two_day_corpus()
    src = store_factory("src", corpus)
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.mutators.add("indexDate", DATE_MUTATOR)
    st = eng.add_task("t1", _task(src, dst, transfer={"from_indices": "logs_*"},
                                  mutators=[ActionRef(id="indexDate")]))
    assert len(st.data["backlog"]) == 8
    calls = _count_upserts(monkeypatch)
    status = eng.run_task("t1")
    assert len(calls) == 2
    assert status["percentComplete"] == 100.0 and status["completed"] == 24
    expected = sorted(
        ("logs_2024-01", t, i, s, z)
        for day in corpus
        for (_, t, i, s, z) in _rows(src, spark, day)
    )
    assert _rows(dst, spark, "logs_2024-01") == expected


def test_read_slices_is_one_scan_keeping_each_members_rows(spark, store_factory):
    """A fused run's read: ONE scan of its index that keeps exactly the
    rows each member's own read keeps — an unsized doc (NULL _size)
    only in the lowest range, an unranged slice its whole type."""
    from chillastic_spark.sources import ENVELOPE_SCHEMA

    src = store_factory("src", {"ix": _sized("ix", "t1") + _sized("ix", "t2")})
    src.write_documents(
        spark.createDataFrame([("ix", "t1", "unsized", "{}", None)], ENVELOPE_SCHEMA), "ix"
    )

    def rows(df):
        return sorted((r["_type"], r["_id"], r["_size"]) for r in df.collect())

    def scans(df):
        return df._jdf.queryExecution().executedPlan().toString().count("FileScan")

    for slices in (
        [("t1", 0, 604)],
        [("t1", 0, 604), ("t1", 901, 1001), ("t2", 901, 1001)],
        [("t1", 901, 1001), ("t2", -1, -1)],
    ):
        fused = src.read_slices(spark, "ix", slices)
        expected = sorted(r for s in slices for r in rows(src.read(spark, "ix", *s)))
        assert rows(fused) == expected
        assert scans(fused) == 1
    assert ("t1", "unsized", None) in rows(src.read_slices(spark, "ix", [("t1", 0, 604)]))
    assert rows(src.read_slices(spark, "ix", [("t2", 0, 604), (None, -1, -1)])) == rows(
        src.read(spark, "ix")
    )


def test_raising_mutator_fails_every_member_of_its_run(spark, tmp_path, store_factory, monkeypatch):
    src = store_factory("src", {"ix": _sized("ix", "t1")})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    bad = "TYPE='data'\ndef predicate(d,a):\n    return True\ndef mutate(d,a):\n    raise RuntimeError('boom')\n"
    eng.mutators.add("boom", bad)
    st = eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"},
                                  mutators=[ActionRef(id="boom")]))
    planned = [sid for sid, _ in st.data["backlog"]]
    assert len(planned) == 2
    calls = _count_upserts(monkeypatch)
    status = eng.run_task("t1")
    assert len(calls) == 1  # one run: the two members failed together
    assert status["completed"] == 0 and status["backlog"] == 0
    errs = eng.get_task_errors("t1")
    assert [e["subtask_id"] for e in errs] == planned
    assert all("boom" in e["message"] for e in errs)
    eng.build_backlog("t1")
    assert [sid for sid, _ in TaskState(str(tmp_path / "state"), "t1").data["backlog"]] == planned
    assert eng.get_task_status("t1")["backlog"] == 6


def test_run_stopped_by_max_subtasks_resumes_to_the_expected_rows(
    spark, tmp_path, store_factory, monkeypatch
):
    """The reindex_merge shape: stop part-way through a fusible run,
    then a fresh Engine rebuilds the backlog and drains the rest."""
    corpus = _two_day_corpus()
    src = store_factory("src", corpus)
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "logs_*"}))
    calls = _count_upserts(monkeypatch)
    status = eng.run_task("t1", max_subtasks=3)
    state = TaskState(str(tmp_path / "state"), "t1")
    assert len(calls) == 1 and len(state.data["completed"]) == 3
    assert len(state.data["backlog"]) == 5 and status["completed"] == 4 + 2 + 4
    resumed = _engine(spark, tmp_path)
    resumed.build_backlog("t1")
    assert resumed.run_task("t1")["percentComplete"] == 100.0
    assert len(calls) == 3  # the first day's last member, then the second day
    for day in corpus:
        assert _rows(dst, spark, day) == _rows(src, spark, day)


def _md5(source: dict) -> str:
    import hashlib

    return hashlib.md5(json.dumps(source, sort_keys=True).encode()).hexdigest()


def test_duplicate_key_across_size_ranges_resolves_by_batch_tie_break(
    spark, tmp_path, store_factory
):
    """One source index holds two rows with one key, in different size
    ranges. Both ranges are one run, so upsert's batch tie-break
    (highest md5(_source), then _size) picks the winner — not backlog
    order, which would let the later (larger-size) range overwrite."""
    small, big = next(
        (a, b)
        for a, b in (({"v": f"small{i}"}, {"v": "big"}) for i in range(100))
        if _md5(a) > _md5(b)
    )
    docs = _sized("ix", "t1") + [
        {"_id": "k", "_type": "t1", "_source": small, "_size": 10},
        {"_id": "k", "_type": "t1", "_source": big, "_size": 1000},
    ]
    src = store_factory("src", {"ix": docs})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    st = eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    ranges = [Subtask.from_id(sid) for sid, _ in st.data["backlog"]]
    assert [(s.min_size, s.max_size) for s in ranges] == [(0, 604), (901, 1001)]
    eng.run_task("t1")
    won = dst.read(spark, "ix").filter(F.col("_id") == "k").collect()
    assert [json.loads(r["_source"]) for r in won] == [small]


def test_colliding_ids_from_different_source_indices_resolve_in_backlog_order(
    spark, tmp_path, store_factory
):
    """A daily→monthly rollup whose ids collide across days: each day
    is its own run, so the later day (later in the backlog) wins even
    where the md5 tie-break would have picked the earlier one."""
    first, second = next(
        (a, b)
        for a, b in (({"v": f"day1-{i}"}, {"v": "day2"}) for i in range(100))
        if _md5(a) > _md5(b)
    )
    corpus = {
        day: _sized(day, "t1") + [{"_id": "k", "_type": "t1", "_source": s, "_size": 10}]
        for day, s in (("logs_2024-01-01", first), ("logs_2024-01-02", second))
    }
    src = store_factory("src", corpus)
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.mutators.add("indexDate", DATE_MUTATOR)
    st = eng.add_task("t1", _task(src, dst, transfer={"from_indices": "logs_*"},
                                  mutators=[ActionRef(id="indexDate")]))
    days = [Subtask.from_id(sid).index for sid, _ in st.data["backlog"]]
    assert days == ["logs_2024-01-01"] * 2 + ["logs_2024-01-02"] * 2
    eng.run_task("t1")
    won = dst.read(spark, "logs_2024-01").filter(F.col("_id") == "k").collect()
    assert [json.loads(r["_source"]) for r in won] == [second]
