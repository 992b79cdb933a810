"""The flow workloads' configuration, written as a user would: a
``xenoeye.conf`` with devices, IP lists and a monitoring-objects tree.

Shape (the reference's near-production test): two MOs, each with an fwm
top-N + others report and a mavg overlimit on ``dst host``/``octets``;
the first adds one classification, the second filters on an IP list.
The action script stamps the wall time of every NEW alert into the file
named by ``PERFBENCH_ALERT_LOG``.
"""

from __future__ import annotations

import json
import os

from perfbench import gen

ACTION_SCRIPT = """#!/bin/sh
# argv: mo mavg limit notif-file key rate threshold
echo "$(date +%s.%N) $1 $5" >> "$PERFBENCH_ALERT_LOG"
"""


def _mavg(script: str, buckets=None) -> dict:
    m = {
        "name": "m", "fields": ["dst host", "octets"],
        "time": gen.MAVG_TIME,
        "overlimit": [{
            "name": "hi", "default": [gen.MAVG_LIMIT],
            "back2norm-time": 3600, "action-script": script,
        }],
    }
    if buckets is not None:
        m["buckets"] = buckets
    return m


def _fwm(key: str) -> dict:
    return {"name": "top", "fields": [key, "octets desc", "packets"],
            "time": gen.FWM_TIME, "limit": gen.FWM_LIMIT}


def write_flow_conf(d: str) -> str:
    """The flow_replay config under ``d``; returns its path."""
    script = _script(d)
    os.makedirs(os.path.join(d, "iplists"), exist_ok=True)
    with open(os.path.join(d, "iplists", "customers"), "w") as fh:
        fh.write("\n".join(gen.CUSTOMER_NETS) + "\n")
    _mo(d, "web", {
        "filter": "proto 6",
        "fwm": [_fwm("dst host")],
        "mavg": [_mavg(script, buckets="auto")],
        "classification": [{"fields": ["dst port"], "val": "octets desc",
                            "top-percents": 90,
                            "time": gen.CLASSIFY_TIME}],
    })
    _mo(d, "customers", {
        "filter": "dst net customers",
        "fwm": [_fwm("src host")],
        "mavg": [_mavg(script, buckets="auto")],
    })
    with open(os.path.join(d, "devices.conf"), "w") as fh:
        json.dump(gen.DEVICES, fh)
    conf = {
        "mo-dir": os.path.join(d, "mo"),
        "iplists-dir": os.path.join(d, "iplists"),
        "devices": os.path.join(d, "devices.conf"),
        "templates": {"db": os.path.join(d, "state", "templates")},
        "db-type": "pg",
    }
    path = os.path.join(d, "xenoeye.conf")
    with open(path, "w") as fh:
        json.dump(conf, fh, indent=1)
    return path


def _script(d: str) -> str:
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "on_new.sh")
    with open(path, "w") as fh:
        fh.write(ACTION_SCRIPT)
    os.chmod(path, 0o755)
    return path


def _mo(d: str, name: str, body: dict) -> None:
    mo = os.path.join(d, "mo", name)
    os.makedirs(mo, exist_ok=True)
    with open(os.path.join(mo, "mo.conf"), "w") as fh:
        json.dump(body, fh, indent=1)
