"""flow_replay: spool a seeded v5/v9/IPFIX export stream through the UDP
bridge, then drain it with availableNow through the daemon's own wiring,
repeatedly, for the run's measuring time.

The stream is sent over loopback UDP, one socket per exporter address,
into a ``UdpBridge`` that spools it (``ParquetSpool.flush``) and
journals template packets (``TemplateJournal``), as the daemon wires
them. Each repetition then compiles the config
(``build_engine``/``builders``) and drains
``readStream.parquet -> decode_packets_df(repartition(dev_ip)) ->
apply_devices`` through every standing query.
"""

from __future__ import annotations

import os
import time

from perfbench import checks, flowconf, gen
from perfbench.proctree import ProcTree, cpu_delta
from perfbench.runtime import (
    median,
    percentile,
    process_age,
    stop_spark,
    wait_for,
)
from perfbench.tracing import progress_metrics

# flow_replay: decodable flows per drain, planted breaching keys
REPLAY_FLOWS = 40_000
REPLAY_PLANTED = 40
SEND_RATE = 1500.0            # packets/s into the bridge (open loop)
MIN_TIMED = 3                 # timed drains per run, at least


class Drains:
    """Repeated availableNow drains of one input; collects the timings,
    CPU, alert stamps and progress of every repetition."""

    def __init__(self, conf: str, run_dir: str, stream_fn, tree, spans):
        self.conf = conf
        self.run_dir = run_dir
        self.stream_fn = stream_fn
        self.tree = tree
        self.spans = spans
        self.setup_s: list[float] = []
        self.drain_s: list[float] = []
        self.cpu: list[dict] = []
        self.latencies: list[float] = []
        self.progress: dict[str, list[dict]] = {}
        self.n_queries = 0
        self.build_s: list[float] = []
        self.query_ids: dict[str, str] = {}

    def run(self, rep: int, timed: bool):
        from xenoeye_spark.config.main import XenoeyeConfig

        d = os.path.join(self.run_dir, f"rep{rep}")
        alert_log = os.path.join(d, "alerts.log")
        os.makedirs(d)
        os.environ["PERFBENCH_ALERT_LOG"] = alert_log
        t_build = time.perf_counter()
        with self.spans.span("engine.build", rep=rep):
            eng = XenoeyeConfig.from_file(self.conf).build_engine(
                exp_dir=os.path.join(d, "exp"),
                state_dir=os.path.join(d, "state"),
                checkpoint_root=os.path.join(d, "ckpt"),
                # the silent-key watch arms processing-time timeouts that
                # keep an availableNow query running no-data batches for
                # as long as a key stays alarmed; a drain has no silence
                silent_watch=False,
            )
            builders = eng.builders(self.stream_fn())
        built = time.perf_counter()
        cpu0 = self.tree.cpu()
        w0 = time.time()
        with self.spans.span("drain", rep=rep):
            queries = [make().trigger(availableNow=True).start()
                       for _, make in builders]
            started = time.perf_counter()
            for q in queries:
                q.awaitTermination()
        done = time.perf_counter()
        cpu1 = self.tree.cpu()
        self.n_queries = len(queries)
        errors = [str(q.exception()) for q in queries if q.exception()]
        if timed:
            self.build_s.append(built - t_build)
            self.setup_s.append(started - t_build)
            self.drain_s.append(done - built)
            self.cpu.append(cpu_delta(cpu0, cpu1))
            # fwm writers carry no queryName: key progress by builder name
            for (name, _), q in zip(builders, queries):
                self.progress.setdefault(name, []).extend(q.recentProgress)
                self.query_ids[q.id] = name
        return d, alert_log, w0, errors

    def until(self, seconds: float, check_fn) -> None:
        """One warm-up drain (the JVM compiles the plans' hot code), then
        timed drains until ``seconds`` have passed, at least MIN_TIMED.
        ``check_fn(dir, log, w0, errors)`` verifies every repetition's
        outputs outside the timed region."""
        check_fn(*self.run(0, timed=False))
        t_end = time.perf_counter() + seconds
        rep = 1
        while rep <= MIN_TIMED or time.perf_counter() < t_end:
            out = self.run(rep, timed=True)
            self.latencies.extend(check_fn(*out))
            rep += 1


def _session(name: str, spans):
    with spans.span("session.start"):
        from xenoeye_spark.session import get_spark

        spark = get_spark(name)
    return spark, process_age()


def _alert_check(ck: checks.Checks, truth_alerts, log: str, w0: float,
                 label: str) -> list[float]:
    want = sum(len(v) for v in truth_alerts.values())
    # action scripts run detached: wait for their lines to land
    wait_for(lambda: len(checks.read_alerts(log)) >= want, 10.0)
    alerts = checks.read_alerts(log)
    got = checks.alert_sets(alerts)
    for mo, keys in truth_alerts.items():
        ck.expect(f"{label} NEW alerts {mo}", got.get(mo, set()), keys)
    ck.expect(f"{label} NEW alert count", len(alerts), want)
    return [ts - w0 for ts, _mo, _k in alerts]


def flow_replay(seed: int, seconds: float, trace: bool, run_dir: str,
                spans):
    spark, session_s = _session("perfbench-flow-replay", spans)
    from xenoeye_spark.config.main import XenoeyeConfig
    from xenoeye_spark.enrich.devices import apply_devices, load_devices_conf
    from xenoeye_spark.sources.netflow import (
        TemplateJournal,
        decode_packets_df,
    )

    stream = gen.flow_stream(seed, REPLAY_FLOWS, n_planted=REPLAY_PLANTED)
    truth = stream.truth()
    conf = flowconf.write_flow_conf(run_dir)
    cfg = XenoeyeConfig.from_file(conf)
    spool_dir = os.path.join(run_dir, "spool")
    tj = TemplateJournal(cfg.templates_db)
    with spans.span("sources.bridge"):
        spool_s, spooled = spool_via_bridge(stream, spool_dir, tj)
    n_pk = len(stream.packets)
    seed_templates = tj.load()
    devices = load_devices_conf(cfg.devices)

    def flows():
        packets = spark.readStream.schema(
            "data binary, dev_ip long, recv_ts timestamp").parquet(spool_dir)
        return apply_devices(
            decode_packets_df(packets.repartition("dev_ip"),
                              seed_templates=seed_templates,
                              journal_paths=(tj.json_path, tj.pkts_path)),
            devices)

    ck = checks.Checks()

    ck.expect("bridge lost packets", n_pk - spooled, 0)

    def check(d, log, w0, errors):
        ck.expect(f"{d} query errors", errors, [])
        for mo in ("web", "customers"):
            tot, _files, _rows = checks.fwm_totals(os.path.join(d, "exp"),
                                                   mo)
            ck.expect(f"{d} fwm octets {mo}", tot["octets"],
                      truth.octets[mo])
            ck.expect(f"{d} fwm packets {mo}", tot["packets"],
                      truth.packets[mo])
        return _alert_check(ck, truth.alerts, log, w0, d)

    with ProcTree() as tree:
        dr = Drains(conf, run_dir, flows, tree, spans)
        dr.until(seconds, check)
    n = stream.n_flows
    e2e = _e2e(dr, n, session_s, tree)
    layers = {}
    if trace:
        layers = _replay_layers(dr, stream, spool_s, n_pk, session_s)
        layers["mem.peak_rss_mb"] = tree.peak_rss / 2**20
        layers["sources.bridge_lost_packets"] = float(n_pk - spooled)
        layers["mavg.alerts"] = len(dr.latencies) / len(dr.drain_s)
        layers["mavg.alert_latency_p50_s"] = median(dr.latencies)
        layers["mavg.alert_latency_p90_s"] = percentile(dr.latencies, 90)
        ck.expect("flows dropped vs planted undecodable records",
                  layers["sources.flows_dropped"], float(stream.n_dropped))
        ck.expect("decode passes vs standing queries",
                  layers["sources.decode_passes"], float(dr.n_queries))
        last = os.path.join(run_dir, f"rep{len(dr.drain_s)}", "exp")
        layers.update(_fwm_layers(last))
    stop_spark(spark)
    if trace:
        layers.update(stream_event_layers(run_dir, dr.query_ids,
                                          len(dr.drain_s)))
    return ck, e2e, layers, {
        "standing_queries": dr.n_queries,
        "drain_s": [round(x, 3) for x in dr.drain_s],
        "drain_cpu_s": [round(c["total"], 2) for c in dr.cpu]}


def spool_via_bridge(stream, spool_dir: str, tj) -> tuple[float, int]:
    """Send the stream over loopback UDP, one socket per exporter address,
    into a ``UdpBridge`` (journaling template packets, as the daemon
    wires it). Returns (seconds inside ``ParquetSpool.flush``, packets
    spooled)."""
    import socket

    import pyarrow.parquet as pq

    from xenoeye_spark.sources.udp_bridge import UdpBridge

    class TimedBridge(UdpBridge):
        flush_s = 0.0

        def _flush(self, batch):
            t = time.perf_counter()
            super()._flush(batch)
            self.flush_s += time.perf_counter() - t

    bridge = TimedBridge(spool_dir, template_journal=tj).start()
    socks = {}
    for a in gen.ADDRS:
        socks[a] = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        socks[a].bind((a, 0))
    # a fixed schedule the Python bridge keeps up with: a spool flush
    # stalls its receive loop for tens of ms, and what arrives meanwhile
    # must fit in the socket buffer
    t0 = time.perf_counter()
    try:
        for i, p in enumerate(stream.packets):
            ahead = t0 + i / SEND_RATE - time.perf_counter()
            if ahead > 0:
                time.sleep(ahead)
            socks[gen.EXPORTERS[p.exp].addr].sendto(
                p.data, ("127.0.0.1", bridge.port))
        time.sleep(0.3)  # let the bridge drain its socket before stop()
    finally:
        for s in socks.values():
            s.close()
        bridge.stop()
    tj.close()
    spooled = sum(pq.read_metadata(os.path.join(spool_dir, f)).num_rows
                  for f in os.listdir(spool_dir) if f.endswith(".parquet"))
    return bridge.flush_s, spooled


def _e2e(dr: Drains, n_items: int, session_s: float, tree) -> dict:
    cpu = [c["total"] for c in dr.cpu]
    return {
        "setup_s": session_s + median(dr.setup_s),
        "items_per_s": median([n_items / s for s in dr.drain_s]),
        "items_per_cpu_s": median([n_items / c for c in cpu]),
        "drain_s": median(dr.drain_s),
    }


def _cpu_layers(dr: Drains) -> dict:
    return {f"cpu.{k}_s": median([c[k] for c in dr.cpu])
            for k in ("driver", "jvm", "pyworker")}


def _replay_layers(dr: Drains, stream, spool_s: float, n_pk: int,
                   session_s: float) -> dict:
    from xenoeye_spark.sources.netflow import TemplateStore, parse_packet

    # single-core decode baseline over this workload's own packets
    store = TemplateStore()
    decoded = 0
    c0 = time.process_time()
    for p in stream.packets:
        decoded += len(parse_packet(p.data, store,
                                    gen.EXPORTERS[p.exp].dev_ip))
    parse_cpu = time.process_time() - c0
    per_rep_rows = sum(
        p.get("numInputRows", 0) for recs in dr.progress.values()
        for p in recs) / max(1, len(dr.drain_s))
    out = {
        "sources.parse_flows_per_cpu_s": decoded / parse_cpu,
        "sources.decode_passes": per_rep_rows / n_pk,
        "sources.flows_dropped": float(
            sum(len(p.flows) + p.n_unknown for p in stream.packets)
            - decoded),
        "sources.spool_write_s": spool_s,
        "session.start_s": session_s,
        "engine.build_s": median(dr.build_s),
        "engine.standing_queries": float(dr.n_queries),
    }
    out.update(_cpu_layers(dr))
    # state size is the last batch's; everything else is per drain
    for k, v in progress_metrics(dr.progress).items():
        last = k in ("mavg.state_rows", "mavg.state_mb")
        out[k] = v if last else v / len(dr.drain_s)
    return out


def _fwm_layers(exp_dir: str) -> dict:
    files = rows = 0
    for mo in os.listdir(exp_dir) if os.path.isdir(exp_dir) else []:
        _t, f, r = checks.fwm_totals(exp_dir, mo.split(".fwm.")[0])
        files, rows = files + f, rows + r
    return {"fwm.export_files": float(files), "fwm.export_rows": float(rows)}


def stream_event_layers(run_dir: str, query_ids: dict[str, str],
                        n_reps: int) -> dict:
    """Per-rep event-log metrics of the timed drains' standing queries:
    decode / mavg state / fwm stage CPU and the Spark totals."""
    from perfbench.tracing import EventLog, query_kind

    log = EventLog(os.path.join(run_dir, "eventlog"))

    def pred(kind=None):
        return lambda _group, qid: qid in query_ids and (
            kind is None or query_kind(query_ids[qid]) == kind)

    timed = log.stages_of(pred())
    decode = timed & log.stages_with_scope("MapInPandas")
    state = log.stages_of(pred("mavg")) & log.stages_with_scope(
        "InPandasWithState")
    out = {k: v / n_reps for k, v in
           log.totals(timed, len(log.jobs_of(pred()))).items()}
    fwm = log.stages_of(pred("fwm"))
    out.update({
        "sources.decode_cpu_s": log.sum_stages(decode, "cpu_s") / n_reps,
        "sources.decode_run_s": log.sum_stages(decode, "run_s") / n_reps,
        "mavg.state_stage_cpu_s": log.sum_stages(state, "cpu_s") / n_reps,
        "fwm.stage_cpu_s": log.sum_stages(fwm, "cpu_s") / n_reps,
    })
    return out
