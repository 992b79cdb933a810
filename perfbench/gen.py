"""Seeded load generator with its own ground truth.

Everything here is a pure function of the seed. Flow packets are encoded
from the public wire formats (NetFlow v5's fixed 48-byte record, NetFlow
v9 per RFC 3954, IPFIX per RFC 7011), never through the program's
decoder, so the decoder can be checked against them.

The flow stream is shaped so its expected results are exact whatever the
trigger timing:

* a non-planted ``dst host`` never carries, in total over the stream and
  after sampling, ``MAVG_BUDGET`` octets or more, so its moving average
  (which never exceeds the key's running sum) stays under the limit;
* a planted key is a fresh address carried by exactly one flow of
  ``2 * MAVG_BUDGET`` sampled octets, so it trips NEW on its first flow.

Hence the NEW alerts are exactly the planted keys, and the fwm exports
(top-N rows plus "others", summed over windows) add up to the filtered
sampled totals.
"""

from __future__ import annotations

import ipaddress
import random
import struct
from dataclasses import dataclass, field

import numpy as np

# the mavg section shared by both MOs: window seconds x limit (octets/s)
MAVG_TIME = 4
MAVG_LIMIT = 250_000_000.0
MAVG_BUDGET = MAVG_TIME * MAVG_LIMIT  # sampled octets that trip the limit

# exporters, one per (address, source id); addresses are loopback aliases
# so each exporter address sends from its own socket
ADDRS = ["127.0.0.11", "127.0.0.12", "127.0.0.13", "127.0.0.14"]


def ip_int(s: str) -> int:
    return int(ipaddress.IPv4Address(s))


@dataclass(frozen=True)
class Exporter:
    addr: str
    version: int          # 5, 9 or 10
    source_id: int        # v9 source id / IPFIX domain / v5 engine id
    hdr_rate: int = 0     # v5 header sampling interval (0: none)

    @property
    def dev_ip(self) -> int:
        return ip_int(self.addr)


EXPORTERS = [
    Exporter(ADDRS[0], 9, 1),
    Exporter(ADDRS[0], 9, 2),
    Exporter(ADDRS[1], 9, 3),
    Exporter(ADDRS[2], 10, 11),
    Exporter(ADDRS[3], 5, 21, hdr_rate=2),
]

# devices.conf: first match wins; unmatched flows keep their header rate
DEVICES = [
    {"ip": ADDRS[1], "sampling-rate": 10},
    {"ip": ADDRS[0], "id": 2, "sampling-rate": 4},
]

# the IP list the second MO filters on
CUSTOMER_NETS = ["10.1.0.0/16", "10.3.128.0/17"]
CLASSIFY_TIME = 2
FWM_TIME = 2
FWM_LIMIT = 10


def sampling_rate(dev_ip: int, dev_id: int, hdr_rate: int) -> int:
    for d in DEVICES:
        if ip_int(d["ip"]) != dev_ip:
            continue
        if "id" in d and d["id"] != dev_id:
            continue
        return d["sampling-rate"]
    return hdr_rate or 1


_CUST = [ipaddress.IPv4Network(n) for n in CUSTOMER_NETS]


def in_customers(ip: int) -> bool:
    a = ipaddress.IPv4Address(ip)
    return any(a in n for n in _CUST)


# the two MOs' filters, as the ground truth evaluates them
MO_FILTERS = {
    "web": lambda f: f.proto == 6,
    "customers": lambda f: in_customers(f.dst),
}


@dataclass
class Flow:
    exp: int              # index into EXPORTERS
    src: int
    dst: int
    sport: int
    dport: int
    proto: int
    octets: int
    pkts: int
    ifname: str = ""

    def scaled(self) -> int:
        e = EXPORTERS[self.exp]
        return self.octets * sampling_rate(e.dev_ip, e.source_id, e.hdr_rate)


# ---------------------------------------------------------------------------
# wire formats
# ---------------------------------------------------------------------------
# v9 template 256 (4-byte counters) and 257 (8-byte counters); IPFIX
# template 300 (fixed length) and 301 (variable-length interface name)
V9_TPL = {
    256: [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (1, 4), (2, 4), (6, 1),
          (10, 2), (14, 2), (22, 4), (21, 4), (5, 1)],
    257: [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (1, 8), (2, 8), (6, 1),
          (10, 4), (14, 4), (5, 1)],
}
IPFIX_TPL = {
    300: [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (1, 8), (2, 8), (6, 1),
          (152, 8), (153, 8)],
    301: [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (1, 4), (2, 4),
          (82, 0xFFFF)],
}
UNKNOWN_TID = 999     # never announced: its records must be dropped
_FMT = {1: "B", 2: "H", 4: "I", 8: "Q"}


def _rec_struct(tpl) -> struct.Struct:
    return struct.Struct(">" + "".join(_FMT[n] for _, n in tpl))


_V9_REC = {t: _rec_struct(f) for t, f in V9_TPL.items()}
_IPFIX_FIXED = _rec_struct(IPFIX_TPL[300])
_IPFIX_VAR_HEAD = _rec_struct(IPFIX_TPL[301][:-1])
_V5_HDR = struct.Struct(">HHIIIIBBH")
_V5_REC = struct.Struct(">IIIHHIIIIHHBBBBHHBBH")


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _template_set(set_id: int, tpls: dict) -> bytes:
    body = b"".join(
        struct.pack(">HH", tid, len(fl))
        + b"".join(struct.pack(">HH", t, n) for t, n in fl)
        for tid, fl in tpls.items()
    )
    return struct.pack(">HH", set_id, 4 + len(body)) + body


def _data_set(set_id: int, body: bytes) -> bytes:
    body = _pad4(struct.pack(">HH", set_id, 0) + body)[4:]
    return struct.pack(">HH", set_id, 4 + len(body)) + body


def _v9_record(tid: int, f: Flow) -> bytes:
    if tid == 256:
        return _V9_REC[256].pack(f.src, f.dst, f.sport, f.dport, f.proto,
                                 f.octets, f.pkts, 0x18, 1, 2, 1000, 2000, 0)
    return _V9_REC[257].pack(f.src, f.dst, f.sport, f.dport, f.proto,
                             f.octets, f.pkts, 0x18, 1, 2, 0)


def _ipfix_record(tid: int, f: Flow) -> bytes:
    if tid == 300:
        return _IPFIX_FIXED.pack(f.src, f.dst, f.sport, f.dport, f.proto,
                                 f.octets, f.pkts, 0x10, 1000, 2000)
    name = f.ifname.encode()
    return (_IPFIX_VAR_HEAD.pack(f.src, f.dst, f.sport, f.dport, f.proto,
                                 f.octets, f.pkts)
            + bytes([len(name)]) + name)


def encode_packet(e: Exporter, seq: int, flows: list[Flow],
                  templates: bool, unknown: list[Flow]) -> bytes:
    """One export packet of ``flows`` (all of exporter ``e``); ``unknown``
    flows ride in a data set under a never-announced template id."""
    if e.version == 5:
        hdr = _V5_HDR.pack(5, len(flows), 1000, 1_700_000_000, 0, seq,
                           0, e.source_id, e.hdr_rate)
        return hdr + b"".join(
            _V5_REC.pack(f.src, f.dst, 0, 1, 2, f.pkts, f.octets, 1000,
                         2000, f.sport, f.dport, 0, 0x18, f.proto, 0, 0, 0,
                         24, 24, 0)
            for f in flows
        )
    sets = []
    if e.version == 9:
        tid = 256 if e.source_id % 2 else 257
        if templates:
            sets.append(_template_set(0, V9_TPL))
        sets.append(_data_set(tid, b"".join(_v9_record(tid, f)
                                            for f in flows)))
        if unknown:
            sets.append(_data_set(UNKNOWN_TID, b"".join(
                _v9_record(256, f) for f in unknown)))
        body = b"".join(sets)
        count = len(flows) + len(unknown)
        return struct.pack(">HHIIII", 9, count, 1000, 1_700_000_000, seq,
                           e.source_id) + body
    # IPFIX: fixed-length records for even flows, variable-length for odd
    if templates:
        sets.append(_template_set(2, IPFIX_TPL))
    fixed = [f for f in flows if not f.ifname]
    var = [f for f in flows if f.ifname]
    if fixed:
        sets.append(_data_set(300, b"".join(_ipfix_record(300, f)
                                            for f in fixed)))
    if var:
        sets.append(_data_set(301, b"".join(_ipfix_record(301, f)
                                            for f in var)))
    if unknown:
        sets.append(_data_set(UNKNOWN_TID, b"".join(
            _ipfix_record(300, f) for f in unknown)))
    body = b"".join(sets)
    return struct.pack(">HHIII", 10, 16 + len(body), 1_700_000_000, seq,
                       e.source_id) + body


# ---------------------------------------------------------------------------
# flow stream
# ---------------------------------------------------------------------------
@dataclass
class Packet:
    exp: int
    data: bytes
    flows: list[Flow]         # decodable records, in wire order
    n_unknown: int            # records under the unknown template
    templates: bool
    planted: list[Flow] = field(default_factory=list)


@dataclass
class FlowStream:
    packets: list[Packet]

    @property
    def flows(self) -> list[Flow]:
        return [f for p in self.packets for f in p.flows]

    @property
    def n_flows(self) -> int:
        return sum(len(p.flows) for p in self.packets)

    @property
    def n_dropped(self) -> int:
        return sum(p.n_unknown for p in self.packets)

    def truth(self) -> "Truth":
        return Truth.of(self.flows)


@dataclass
class Truth:
    """Per-MO expected fwm totals and NEW alert keys."""
    octets: dict[str, int]
    packets: dict[str, int]
    alerts: dict[str, set[int]]

    @classmethod
    def of(cls, flows: list[Flow]) -> "Truth":
        octets, packets, alerts = {}, {}, {}
        for mo, pred in MO_FILTERS.items():
            per_key: dict[int, int] = {}
            tot_o = tot_p = 0
            for f in flows:
                if not pred(f):
                    continue
                e = EXPORTERS[f.exp]
                r = sampling_rate(e.dev_ip, e.source_id, e.hdr_rate)
                tot_o += f.octets * r
                tot_p += f.pkts * r
                per_key[f.dst] = per_key.get(f.dst, 0) + f.octets * r
            hot = {k for k, v in per_key.items() if v >= MAVG_BUDGET}
            octets[mo], packets[mo], alerts[mo] = tot_o, tot_p, hot
        return cls(octets, packets, alerts)


def _dst_pool(rng: random.Random, n: int) -> list[int]:
    """n distinct destination addresses; ~45% inside the customer list."""
    bases = [ip_int("10.1.0.0"), ip_int("10.3.128.0"), ip_int("10.2.0.0"),
             ip_int("172.16.0.0")]
    out: set[int] = set()
    while len(out) < n:
        b = bases[rng.randrange(4)]
        out.add(b + rng.randrange(1, 32_000))
    return sorted(out)


def flow_stream(seed: int, n_flows: int, n_keys: int = 4000,
                n_planted: int = 0, unknown_share: float = 0.01,
                template_every: int = 16) -> FlowStream:
    """``n_flows`` decodable flows over ``n_keys`` Zipf-weighted dst hosts,
    packed per exporter into export packets, plus ``n_planted`` planted
    breaching keys spread evenly through the stream and about
    ``unknown_share`` extra records under a never-announced template."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    keys = _dst_pool(rng, n_keys)
    planted_keys = _fresh_keys(rng, n_planted, set(keys))
    w = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    key_idx = nrng.choice(n_keys, size=n_flows, p=w / w.sum())
    octets = nrng.integers(40, 1500, size=n_flows)
    pkts = nrng.integers(1, 20, size=n_flows)
    exps = nrng.choice(len(EXPORTERS), size=n_flows,
                       p=[0.25, 0.2, 0.25, 0.2, 0.1])
    protos = nrng.choice([6, 17, 1], size=n_flows, p=[0.7, 0.25, 0.05])
    sports = nrng.integers(1024, 65535, size=n_flows)
    dports = nrng.choice([80, 443, 53, 22, 8080, 123, 25], size=n_flows)
    srcs = nrng.integers(ip_int("192.168.0.1"), ip_int("192.168.255.254"),
                         size=n_flows)
    by_exp: list[list[Flow]] = [[] for _ in EXPORTERS]
    for i in range(n_flows):
        e = int(exps[i])
        f = Flow(e, int(srcs[i]), keys[int(key_idx[i])], int(sports[i]),
                 int(dports[i]), int(protos[i]), int(octets[i]),
                 int(pkts[i]))
        if EXPORTERS[e].version == 10 and i % 2:
            f.ifname = f"ge-0/0/{i % 48}"
        by_exp[e].append(f)
    _cap_keys(by_exp)
    packets = _pack(rng, by_exp, unknown_share, template_every)
    _plant(packets, planted_keys)
    return FlowStream(packets)


def _fresh_keys(rng: random.Random, n: int, taken: set[int]) -> list[int]:
    out: list[int] = []
    while len(out) < n:
        # planted keys alternate between the two MOs' filters
        base = ip_int("10.1.0.0") if len(out) % 2 else ip_int("10.9.0.0")
        k = base + rng.randrange(32_000, 65_000)
        if k not in taken:
            taken.add(k)
            out.append(k)
    return out


def _cap_keys(by_exp: list[list[Flow]]) -> None:
    """Scale down octets of any key whose sampled total would reach the
    mavg budget, so only planted keys can ever trip the limit."""
    tot: dict[int, int] = {}
    for fl in by_exp:
        for f in fl:
            tot[f.dst] = tot.get(f.dst, 0) + f.scaled()
    over = {k: v for k, v in tot.items() if v >= MAVG_BUDGET / 2}
    if not over:
        return
    for fl in by_exp:
        for f in fl:
            if f.dst in over:
                f.octets = max(
                    1, int(f.octets * MAVG_BUDGET / 4 / over[f.dst]))


def _pack(rng: random.Random, by_exp, unknown_share: float,
          template_every: int) -> list[Packet]:
    """Per-exporter packets, interleaved round-robin into one stream."""
    per_exp: list[list[Packet]] = []
    for ei, fl in enumerate(by_exp):
        e = EXPORTERS[ei]
        per_pkt = 30 if e.version == 5 else 24
        pk: list[Packet] = []
        for j in range(0, len(fl), per_pkt):
            chunk = fl[j:j + per_pkt]
            if e.version == 10:  # wire order: fixed-length set first
                chunk = sorted(chunk, key=lambda f: bool(f.ifname))
            tpl = e.version != 5 and len(pk) % template_every == 0
            unk: list[Flow] = []
            # the first packet of an exporter never carries unknowns, so
            # the unknown share lands on packets whose templates are known
            if e.version != 5 and pk and rng.random() < unknown_share * 4:
                unk = [Flow(ei, f.src, f.dst, f.sport, f.dport, f.proto,
                            f.octets, f.pkts) for f in chunk[:per_pkt // 4]]
            pk.append(Packet(ei, b"", chunk, len(unk), tpl))
            pk[-1].data = encode_packet(e, len(pk), chunk, tpl, unk)
        per_exp.append(pk)
    out: list[Packet] = []
    idx = [0] * len(per_exp)
    total = sum(len(p) for p in per_exp)
    while len(out) < total:
        for ei, pk in enumerate(per_exp):
            # interleave proportionally to each exporter's packet count
            want = (len(out) + 1) * len(pk) / total
            while idx[ei] < len(pk) and idx[ei] < want + 1 \
                    and len(out) < total:
                out.append(pk[idx[ei]])
                idx[ei] += 1
    return out


def _plant(packets: list[Packet], planted_keys: list[int]) -> None:
    """Evenly through the stream, add one breaching flow per planted key
    as its own v9 packet from exporter 0 (rate 1)."""
    if not planted_keys:
        return
    step = len(packets) / (len(planted_keys) + 1)
    e = EXPORTERS[0]
    for j, k in reversed(list(enumerate(planted_keys))):
        at = int(step * (j + 1))
        f = Flow(0, ip_int("192.168.77.1"), k, 40000 + j, 443, 6,
                 int(2 * MAVG_BUDGET), 1000)
        p = Packet(0, encode_packet(e, 100_000 + j, [f], False, []), [f], 0,
                   False, planted=[f])
        packets.insert(at, p)


# ---------------------------------------------------------------------------
# datapipe tables (documents / embeddings), in the testdata tables' schema
# ---------------------------------------------------------------------------
_WORDS = ("batch part spark line column order small sort fast value scan a "
          "hash slow group agg filter query big key window row table stream "
          "merge data customer join vector the").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_STOP = {"en": "the and of to in is that it for was on are with as".split(),
         "de": ("der die und in den von zu das mit sich des auf fur "
                "ist").split(),
         "fr": ("le de la et les des en un du une que est pour qui "
                "dans").split(),
         "es": "el la de que y en los se del las un por con no una".split()}


def documents(seed: int, n_docs: int) -> dict:
    """doc_id/text/lang/source/n_chars with near-duplicate pairs planted
    (a word dropped or swapped), so the dedup queries find pairs."""
    rng = random.Random(seed)
    texts, langs = [], []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.08:
            words = texts[rng.randrange(i)].split()
            if len(words) > 8:
                j = rng.randrange(len(words))
                words[j] = rng.choice(_WORDS)
            texts.append(" ".join(words))
            langs.append(langs[-1])
            continue
        lang = rng.choices(_LANGS, weights=[41, 15, 15, 15, 14])[0]
        n = rng.randrange(8, 80)
        pool = _WORDS + _STOP.get(lang, [])
        texts.append(" ".join(rng.choice(pool) for _ in range(n)))
        langs.append(lang)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(seed: int, n_vecs: int, dim: int = 64) -> dict:
    """vec_id/embedding(float[dim])/label: labelled clusters, unit norm."""
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(10, dim))
    label = nrng.integers(0, 10, size=n_vecs)
    v = centers[label] + nrng.normal(scale=1.5, size=(n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in v],
        "label": label.astype(np.int32),
    }
