"""The benchmark's own tests: the generator's packets decode to exactly its
ground truth, output checks count a wrong result as a failed unit, the
process-tree sampler counts exited children, and the command refuses to
run where the program is absent.

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import checks, gen  # noqa: E402
from perfbench.proctree import ProcTree  # noqa: E402
from perfbench.runtime import ROOT  # noqa: E402


def _decoded(stream):
    from xenoeye_spark.sources.netflow import TemplateStore, parse_packet

    store = TemplateStore()
    out = []
    for p in stream.packets:
        e = gen.EXPORTERS[p.exp]
        out.append(parse_packet(p.data, store, e.dev_ip))
    return out


def test_packets_decode_to_ground_truth():
    stream = gen.flow_stream(3, 3000, n_keys=300, n_planted=6)
    versions = {gen.EXPORTERS[p.exp].version for p in stream.packets}
    assert versions == {5, 9, 10}
    assert stream.n_dropped > 0
    assert any(p.templates for p in stream.packets[1:])  # re-announced
    for p, rows in zip(stream.packets, _decoded(stream)):
        e = gen.EXPORTERS[p.exp]
        assert len(rows) == len(p.flows)  # unknown-template records drop
        for f, r in zip(p.flows, rows):
            assert (r["ip4_src_addr"], r["ip4_dst_addr"], r["l4_src_port"],
                    r["l4_dst_port"], r["protocol"], r["in_bytes"],
                    r["in_pkts"], r["dev_id"]) == (
                f.src, f.dst, f.sport, f.dport, f.proto, f.octets, f.pkts,
                e.source_id)
            if f.ifname:
                assert r["if_name"] == f.ifname
            if e.version == 5:
                assert r["sampling_rate"] == e.hdr_rate


def test_truth_plants_exactly_the_breaching_keys():
    stream = gen.flow_stream(4, 3000, n_keys=300, n_planted=10)
    truth = stream.truth()
    planted = {f.dst for p in stream.packets for f in p.planted}
    assert truth.alerts["web"] == planted
    assert truth.alerts["customers"] == {
        k for k in planted if gen.in_customers(k)}
    assert len(truth.alerts["customers"]) == 5
    # same seed, same inputs
    again = gen.flow_stream(4, 3000, n_keys=300, n_planted=10)
    assert [p.data for p in again.packets] == [p.data for p in
                                                stream.packets]


def test_wrong_totals_are_failed_units(tmp_path):
    d = tmp_path / "exp" / "web.fwm.top"
    d.mkdir(parents=True)
    (d / "web_fwm_top_0.sql").write_text(
        "CREATE TABLE IF NOT EXISTS web_fwm_top (time TIMESTAMPTZ, "
        "dst_host BIGINT, octets BIGINT, packets BIGINT);\n"
        "INSERT INTO web_fwm_top (time, dst_host, octets, packets) VALUES\n"
        "('2026-01-01 00:00:00', 167772161, 1500, 3),\n"
        "('2026-01-01 00:00:00', NULL, 500, 1);\n")
    tot, files, rows = checks.fwm_totals(str(tmp_path / "exp"), "web")
    assert (tot, files, rows) == ({"octets": 2000, "packets": 4}, 1, 2)
    ck = checks.Checks()
    ck.expect("right", tot["octets"], 2000)
    ck.expect("corrupted", tot["octets"], 2001)
    ck.expect("alerts", checks.alert_sets([(1.0, "web", 7)]),
              {"web": {7, 8}})
    assert (ck.attempted, ck.failed) == (3, 2)


def test_oracle_mismatch_is_a_failed_unit():
    from scripts.selftest import rowset

    cols, rows = ["a", "b"], [(1, 0.5), (2, None)]
    ok = rowset(cols, rows)
    assert rowset(["b", "a"], [(0.5, 1), (None, 2)]) == ok
    ck = checks.Checks()
    ck.expect("q", rowset(cols, rows[:1]), ok)
    assert ck.failed == 1


def test_proctree_counts_exited_children():
    with ProcTree(interval=0.05) as tree:
        before = tree.cpu()
        subprocess.run([sys.executable, "-c",
                        "t=__import__('time').process_time\n"
                        "while t() < 0.3: pass"], check=True)
        after = tree.cpu()
    assert after["total"] - before["total"] >= 0.25
    assert tree.peak_rss > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    t = time.monotonic()
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flow_replay",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0 and time.monotonic() - t < 60
    for line in res.stdout.splitlines():
        assert "correct" not in json.loads(line)
