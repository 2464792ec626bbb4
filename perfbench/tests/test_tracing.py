from __future__ import annotations

import pytest

from perfbench.tracing import WALK_LIMIT_BYTES, Tracer, self_time, tree_pids, tree_rss_bytes


def test_self_time_without_children_is_the_span():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_sequential_children():
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    # the union of [1, 4] and [2, 6] covers 5 of the span's 10 seconds
    assert self_time(0.0, 10.0, [(2.0, 6.0), (1.0, 4.0)]) == pytest.approx(5.0)


def test_self_time_clips_children_to_the_span():
    assert self_time(2.0, 5.0, [(0.0, 3.0), (4.5, 9.0)]) == pytest.approx(1.5)


def test_tracer_nests_spans_and_takes_counter_deltas():
    totals = {"task_ms": 0}

    def counters():
        totals["task_ms"] += 10  # every snapshot sees ten more milliseconds
        return dict(totals)

    tracer = Tracer(counters)
    with tracer.span("pass"):
        with tracer.span("a"):
            pass
        with tracer.span("b"):
            pass
    root, a, b = tracer.spans
    assert (root.parent, a.parent, b.parent) == (None, 0, 0)
    assert a.counters == {"task_ms": 10}
    # pass opens first and closes last: five snapshots later it grew by 50
    assert root.counters == {"task_ms": 50}
    assert tracer.self_time(0) == pytest.approx(
        root.duration - a.duration - b.duration
    )


def _fake_proc(root, procs):
    """pid -> (parent pid, virtual size, resident pages, VmRSS in kB);
    each fake process's PSS is a tenth of its VmRSS."""
    for pid, (ppid, vsize, rss, rss_kb) in procs.items():
        d = root / str(pid)
        d.mkdir()
        fields = ["S", ppid] + [0] * 18 + [vsize, rss]
        (d / "stat").write_text(f"{pid} (a (b) c) " + " ".join(map(str, fields)) + "\n")
        (d / "status").write_text(f"Name:\ta\nVmHWM:\t{2 * rss_kb} kB\nVmRSS:\t{rss_kb} kB\n")
        (d / "smaps_rollup").write_text(f"Rss: {rss_kb} kB\nPss: {rss_kb // 10} kB\n")


def test_tree_rss_sums_descendants_only(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, 50, 5, 100), 11: (10, 70, 7, 20), 12: (11, 90, 9, 30), 13: (1, 50, 5, 990),
    })
    assert tree_pids(10, proc=str(tmp_path)) == {10, 11, 12}
    assert tree_rss_bytes(10, proc=str(tmp_path)) == (10 + 2 + 3) * 1024


def test_tree_rss_reads_a_large_process_from_its_counter(tmp_path):
    big_kb = 2 * WALK_LIMIT_BYTES // 1024
    _fake_proc(tmp_path, {10: (1, 50, 5, 100), 11: (10, 9000, 1200, big_kb)})
    assert tree_rss_bytes(10, proc=str(tmp_path)) == (10 + big_kb) * 1024


def test_tree_rss_skips_a_vforked_child_that_shares_its_parents_memory(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, 50, 5, 100), 11: (10, 9000, 1200, 5000), 12: (11, 9000, 1200, 5000),
        13: (11, 30, 2, 10),
    })
    assert tree_rss_bytes(10, proc=str(tmp_path)) == (10 + 500 + 1) * 1024
