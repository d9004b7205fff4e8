from perfbench.tracing import Tracer, self_seconds


def test_self_seconds_subtracts_the_union_of_children():
    # (1,3) and (2,4) overlap: together they cover 3 s; (6,7) covers 1 s
    assert self_seconds((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]) == 6.0


def test_self_seconds_clips_children_to_the_parent():
    assert self_seconds((0.0, 10.0), [(-5.0, 2.0), (9.0, 20.0)]) == 7.0
    assert self_seconds((0.0, 10.0), [(11.0, 12.0)]) == 10.0
    assert self_seconds((0.0, 10.0), []) == 10.0


def test_self_seconds_nested_children_count_once():
    assert self_seconds((0.0, 10.0), [(2.0, 8.0), (3.0, 4.0)]) == 4.0


def test_tracer_links_parents_and_query_ids():
    tr = Tracer(True)
    with tr.span("query", qid=7):
        with tr.span("plan"):
            pass
        with tr.span("exec"):
            with tr.span("inner"):
                pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["query"].parent is None
    assert by_name["plan"].parent == by_name["query"].id
    assert by_name["inner"].parent == by_name["exec"].id
    assert {s.qid for s in tr.spans} == {7}
    q = by_name["query"]
    covered = by_name["plan"].seconds + by_name["exec"].seconds
    assert abs(tr.self_time(q) - (q.seconds - covered)) < 1e-9


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("query", qid=1):
        with tr.span("plan"):
            pass
    assert tr.spans == []
