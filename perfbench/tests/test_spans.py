"""Self time and blocking-path accounting over synthetic span trees."""

import threading

import pytest

from spans import Span, Tracer, account_pass, blocking_chain, self_times, union_length


def S(i, start, end, parent=None, name=None):
    return Span(i, name or f"s{i}", start, end, parent, "p")


def test_union_length_merges_overlaps_and_ignores_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([]) == 0


def test_self_time_with_nested_and_overlapping_children():
    spans = [
        S(1, 0, 10),
        S(2, 1, 4, parent=1),
        S(3, 3, 6, parent=1),  # overlaps 2, as the nodes/edges threads do
        S(4, 2, 3, parent=2),  # nested one level down
        S(5, 9, 12, parent=1),  # sticks out of its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5 - 1)  # covered: [1, 6] and [9, 10]
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_concurrent_children_only_the_later_one_blocks():
    root = S(1, 0, 12)
    kids = [S(2, 0, 2, 1), S(3, 2, 11, 1, "nodes"), S(4, 2, 9, 1, "edges"), S(5, 11, 12, 1)]
    assert [c.id for c in blocking_chain(root, kids)] == [2, 3, 5]
    acc = account_pass(root, [root, *kids])
    assert acc == pytest.approx(
        {"wall_s": 12, "self_s": 0, "blocking_s": 12, "unaccounted_s": 0})


def test_time_covered_only_off_the_blocking_path_is_reported():
    root = S(1, 0, 10)
    kids = [S(2, 0, 5, 1), S(3, 6, 10, 1), S(4, 4, 7, 1)]  # 4 covers the gap [5, 6]
    acc = account_pass(root, [root, *kids])
    assert acc["self_s"] == pytest.approx(0)
    assert acc["blocking_s"] == pytest.approx(9)
    assert acc["unaccounted_s"] == pytest.approx(1)


def test_blocking_self_times_add_up_with_nesting():
    root = S(1, 0, 10)
    spans = [root, S(2, 1, 9, 1), S(3, 2, 4, 2), S(4, 5, 8, 2), S(5, 6, 7, 4)]
    acc = account_pass(root, spans)
    assert acc["self_s"] == pytest.approx(2)
    assert acc["blocking_s"] == pytest.approx(8)
    assert acc["unaccounted_s"] == pytest.approx(0)


class FakeContext:
    """Records the job description each thread sets."""

    def __init__(self):
        self.local = threading.local()
        self.seen = []

    def getLocalProperty(self, key):
        return getattr(self.local, "props", {}).get(key)

    def setLocalProperty(self, key, value):
        props = self.local.__dict__.setdefault("props", {})
        props[key] = value
        self.seen.append((threading.current_thread().name, value))


def test_tracer_parents_threads_to_the_pass_and_labels_jobs():
    sc = FakeContext()
    clock = iter(range(100)).__next__
    tr = Tracer(sc, clock=clock)

    def worker():
        with tr.span("materialize.build_nodes"):
            tr.count("nodes", 3)

    with tr.pass_span("kg.pass", "full") as root:
        with tr.span("extract.write"):
            with tr.span("bench.probe"):
                pass
        t = threading.Thread(target=worker, name="w")
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["extract.write"].parent == root.id
    assert by_name["bench.probe"].parent == by_name["extract.write"].id
    assert by_name["materialize.build_nodes"].parent == root.id
    assert by_name["materialize.build_nodes"].counters == {"nodes": 3.0}
    assert {s.pass_id for s in tr.spans} == {"full"}
    # each span labels its thread's jobs, and the label is restored on exit
    node_id = by_name["materialize.build_nodes"].id
    assert ("w", f"perfbench:{node_id}") in sc.seen
    assert sc.getLocalProperty("spark.job.description") is None
