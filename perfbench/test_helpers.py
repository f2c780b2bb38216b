"""Unit tests of the benchmark's own helpers: input generation and its
digest, the percentile rule and ``/proc`` parsing. No Spark needed.

    PYTHONPATH=.:perfbench python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import os
import time

import inputs
import probe

# Spark 4.1's xxhash64 of these strings (seed 42), recorded from
# ``spark.createDataFrame(...).select(F.xxhash64("s"))``
SPARK_XXHASH64 = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "abcd": -6810745876291105281,
    "hello world!": -8983683109258266270,
    "x" * 31: -1716462135722163746,
    "y" * 32: 5202031258905353636,
    "ünïcødé" * 9: 4561584737695630224,
}


def test_xxhash64_matches_spark():
    for s, want in SPARK_XXHASH64.items():
        assert inputs.xxhash64(s.encode()) == want, s


def test_key_hash_matches_spark():
    # F.xxhash64("conv_id", "turn_idx") over (string, int) columns
    assert inputs.key_hash("s1-c000001-3", 0) == -7323152398748818859
    assert inputs.key_hash("s1-c000001-3", 7) == 3420999292036996318
    assert inputs.key_hash("", 123456) == -7390042404068230938
    assert inputs.key_hash("ünï", 2**31 - 1) == -1041125784961022958
    assert inputs.key_hash("x" * 40, 5) == 8090288410108163171


def test_generation_is_deterministic_and_seeded():
    a = inputs.generate("extract_mixed", 3, scale=0.05)
    b = inputs.generate("extract_mixed", 3, scale=0.05)
    c = inputs.generate("extract_mixed", 4, scale=0.05)
    assert a.digest() == b.digest()
    assert a.digest() != c.digest()
    assert all(cid.startswith("s3-") for cid in a.conv_id)


def test_load_is_seed_independent():
    for w in inputs.SHAPES:
        a = inputs.generate(w, 1, scale=0.1)
        b = inputs.generate(w, 2, scale=0.1)
        assert len(a) == len(b)
        assert sorted(a.tool) == sorted(b.tool)  # same family mix
        assert sorted(map(len, a.text)) != sorted(map(len, b.text))  # other payloads


def test_heaviest_conversations_spread_over_buckets():
    tr = inputs.generate("conv_assemble", 5, scale=0.1)
    sizes: dict[str, int] = {}
    for cid in tr.conv_id:
        sizes[cid] = sizes.get(cid, 0) + 1
    heaviest = sorted(sizes, key=lambda c: -sizes[c])[: inputs.CHECKPOINT_BUCKETS]
    assert sorted(inputs.bucket_of(c) for c in heaviest) == list(range(inputs.CHECKPOINT_BUCKETS))


def test_digest_covers_every_column():
    tr = inputs.generate("conv_assemble", 1, scale=0.05)
    base = tr.digest()
    for col in ("conv_id", "role", "text", "tool"):
        vals = getattr(tr, col)
        old = vals[0]
        vals[0] = old + "!"
        assert tr.digest() != base, col
        vals[0] = old
    tr.turn_idx[0] += 1
    assert tr.digest() != base


def test_pinned_canaries_match():
    for w in inputs.SHAPES:
        inputs.pinned_input(w, 0)  # raises DigestMismatch on drift


def test_tail_percentile_needs_ten_beyond():
    assert probe.tail_percentile([1.0] * 10) is None
    assert probe.tail_percentile([1.0] * 19) is None  # p90 leaves only 1 beyond
    p, v = probe.tail_percentile([float(i) for i in range(1, 101)])
    assert (p, v) == (90.0, 90.0)
    p, _ = probe.tail_percentile([float(i) for i in range(1000)])
    assert p == 99.0


def test_parse_stat_handles_odd_comm():
    ticks = os.sysconf("SC_CLK_TCK")
    line = (
        "4242 (py thon) (x)) S 17 4242 4242 0 -1 4194560 100 0 0 0 "
        f"{3 * ticks} {ticks} 0 0 20 0 5 0 100 123456789 2500 18446744073709551615"
    )
    st = probe.parse_stat(4242, line)
    assert (st.pid, st.ppid, st.comm) == (4242, 17, "py thon) (x)")
    assert st.cpu_s == 4.0
    assert st.rss_bytes == 2500 * os.sysconf("SC_PAGE_SIZE")


def test_parse_io():
    text = "rchar: 1234\nwchar: 99\nsyscr: 5\nread_bytes: 0\n"
    assert probe.parse_io(text) == (1234, 99)


def test_only_the_jvm_and_python_processes_count():
    def st(pid, ppid, comm):
        return probe.ProcStat(pid, ppid, comm, 0.0, 0)

    procs = [
        st(10, 1, "java"),  # the JVM, child of the benchmark (pid 1 here)
        st(11, 10, "Executor task l"),  # JVM fork caught before its exec
        st(12, 10, "chmod"),
        st(13, 10, "python3"),  # the PySpark daemon
        st(14, 13, "python3"),  # a worker it forked
    ]
    assert [s.pid for s in procs if probe.is_counted(s, 1)] == [10, 13, 14]


def test_net_timer_scales_by_steal(monkeypatch):
    ticks = iter([(1000, 0), (2000, 200)])  # 20% of the CPU time stolen
    monkeypatch.setattr(probe, "host_ticks", lambda: next(ticks))
    with probe.NetTimer() as t:
        time.sleep(0.01)
    assert t.steal == 0.2
    assert t.seconds == t.wall * 0.8**probe.STEAL_EXPONENT


def test_parse_cpu_line():
    # user nice system idle iowait irq softirq steal guest guest_nice
    line = "cpu  100 2 30 800 5 0 3 60 40 0\n"
    assert probe.parse_cpu_line(line) == (1000, 60)  # guest is inside user


def test_descendants_sees_a_child_process():
    import subprocess

    child = subprocess.Popen(["sleep", "5"])
    try:
        found = probe.descendants(os.getpid())
        assert child.pid in found
        assert found[child.pid].ppid == os.getpid()
    finally:
        child.kill()
        child.wait(timeout=5)


def test_self_times_subtract_children():
    tr = probe.Tracer()
    with tr.span("bench.job"):
        with tr.span("pipeline.extract_transcripts"):
            time.sleep(0.02)
        time.sleep(0.01)
    st = tr.self_times()
    outer = tr.spans[0].end - tr.spans[0].start
    inner = tr.spans[1].end - tr.spans[1].start
    assert abs(st["bench"] - (outer - inner)) < 1e-9
    assert abs(st["pipeline"] - inner) < 1e-9
    assert tr.spans[1].parent == tr.spans[0].id


def test_disabled_tracer_records_nothing():
    tr = probe.Tracer(enabled=False)
    with tr.span("pipeline.x"):
        pass
    assert tr.spans == []
