from perfbench.trace import Span, Tracer


def test_self_time_subtracts_the_union_of_children():
    t = Tracer()
    t.spans = [
        Span("sink.apply", 0.0, 10.0),
        Span("evolution.observe", 1.0, 2.0, parent=0),
        Span("apply_batch", 3.0, 8.0, parent=0),
        Span("commit", 7.5, 8.5, parent=0),  # overlaps apply_batch
        Span("snapshot.load", 4.0, 5.0, parent=2),  # a grandchild
    ]
    assert abs(t.self_ms(0) - (10.0 - 1.0 - 5.5) * 1000) < 1e-6
    assert abs(t.self_ms(2) - 4000.0) < 1e-6


def test_spans_nest_and_inherit_the_batch_id():
    t = Tracer()
    with t.span("sink.apply"):
        with t.span("apply_batch", batch=7):
            with t.span("commit"):
                pass
    outer, apply, commit = t.spans
    assert apply.parent == 0 and commit.parent == 1
    assert commit.batch == 7
    assert outer.batch == 7  # learned from the child


def test_wrap_records_and_restores():
    class Owner:
        def work(self, x, batch):
            return {"events": x}

    t = Tracer()
    orig = Owner.work
    t.wrap(Owner, "work", "w", batch_arg=2, keep_result=lambda r: r)
    assert Owner().work(3, 11) == {"events": 3}
    t.uninstall()
    assert Owner.work is orig
    (sp,) = t.spans
    assert (sp.name, sp.batch, sp.attrs) == ("w", 11, {"events": 3})
