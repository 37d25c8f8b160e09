"""Seeded message generation for the ETL workloads.

Messages are AMQP-style envelopes (``exchange``, ``content_type``,
``body``) written as JSON-lines spool files, the input the engine's
spool source reads. A body is ``{"seq", "user_id", "value",
"event_type"}`` plus ``"due"`` on the paced workload; about one in a
hundred bodies is truncated JSON, which the engine must dead-letter.

Run as a script, this module is the paced workload's load generator:
a separate process that publishes one spool file per tick on a fixed
schedule, whatever the engine is doing, and reports how late it ran.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
from dataclasses import dataclass

EXCHANGE = "bench"
MALFORMED_SHARE = 0.01
#: The paced generator publishes one spool file per tick.
TICK_S = 0.05
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@dataclass(frozen=True)
class Message:
    seq: int
    user_id: int
    value: float
    event_type: str
    malformed: bool

    def line(self, due: float | None = None) -> str:
        body = {
            "seq": self.seq,
            "user_id": self.user_id,
            "value": self.value,
            "event_type": self.event_type,
        }
        if due is not None:
            body["due"] = due
        text = json.dumps(body)
        if self.malformed:
            text = text[: len(text) // 2]
        return json.dumps(
            {"exchange": EXCHANGE, "content_type": "application/json", "body": text}
        )


def make_messages(seed: int, n: int) -> list[Message]:
    """``n`` messages whose values and malformed subset follow ``seed``."""
    rng = random.Random(seed)
    return [
        Message(
            seq=i,
            user_id=rng.randrange(1500),
            value=round(rng.expovariate(1 / 50.0), 2),
            event_type=rng.choice(_EVENT_TYPES),
            malformed=rng.random() < MALFORMED_SHARE,
        )
        for i in range(n)
    ]


def _publish(path: str, name: str, lines: list[str]) -> None:
    # write under a dot-name and rename: the file source skips hidden
    # files, so it never lists a half-written one
    tmp = os.path.join(path, "." + name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(path, name))


def write_spool(path: str, seed: int, messages: list[Message], files: int) -> None:
    """Write ``messages`` into ``files`` spool files, shuffled by ``seed``."""
    os.makedirs(path, exist_ok=True)
    order = list(range(len(messages)))
    random.Random(seed + 1).shuffle(order)
    for f in range(files):
        part = order[f::files]
        _publish(path, f"part-{f:04d}.json", [messages[i].line() for i in part])


def paced_due(start: float, rate: float, seq: int) -> float:
    """Epoch second at which message ``seq`` is due."""
    return start + seq / rate


def run_generator(path: str, seed: int, rate: float, start: float, duration: float) -> dict:
    """Publish ``rate * duration`` messages from epoch ``start``: each
    tick's file holds the messages that fell due during the tick, each
    stamped with its own due time. Returns lateness per tick."""
    n = int(rate * duration)
    messages = make_messages(seed, n)
    late_ms: list[float] = []
    sent, k = 0, 0
    while sent < n:
        k += 1
        tick_due = start + k * TICK_S
        pause = tick_due - time.time()
        if pause > 0:
            time.sleep(pause)
        upto = min(n, int((tick_due - start) * rate))
        if upto > sent:
            lines = [messages[i].line(paced_due(start, rate, i)) for i in range(sent, upto)]
            _publish(path, f"tick-{k:07d}.json", lines)
            late_ms.append((time.time() - tick_due) * 1000.0)
            sent = upto
    late_ms.sort()
    return {
        "messages": n,
        "ticks": len(late_ms),
        "late_p99_ms": late_ms[min(len(late_ms) - 1, int(0.99 * len(late_ms)))],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="paced spool generator")
    ap.add_argument("--path", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--duration", type=float, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    report = run_generator(a.path, a.seed, a.rate, a.start, a.duration)
    with open(a.report, "w", encoding="utf-8") as fh:
        json.dump(report, fh)


if __name__ == "__main__":
    main()
