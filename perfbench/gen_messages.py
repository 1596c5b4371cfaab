"""Seeded MQTT message generator: the load-generating component.

It runs as its own process and hands the engine nothing but spool files
(``topic<TAB>hex(payload)<TAB>qos<TAB>retain`` lines, the format
``FileSpoolTransport`` polls).  Each file is written under a
``.``-prefixed name and then renamed, so the transport never reads a
partial file; file names sort in write order.

    python3 perfbench/gen_messages.py --seed N --spool-dir D --messages M

writes M messages over TOPICS topics in files of PER_FILE messages: the
per-tick file of a 500 msgs/s source at 100 ms ticks.  The file size is
fixed, not tuned to the engine's batch size.  The first TOPICS
messages touch every topic once, in a seeded order; after that each
message picks a topic at random, and 2% go to topics outside the
``sensors/#`` subscription.  Each topic draws its payload from
PAYLOAD_VALUES distinct values, so diff-only history suppresses some
repeats.  The same seed gives the same files: every choice comes from
``random.Random(seed)``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

SUBSCRIPTION = "sensors/#"
# exact-match exclusions (the daemon's --exclude-topic list)
EXCLUDE = ("sensors/00/00000", "sensors/01/00001", "sensors/02/00002")
OFF_SUBSCRIPTION_SHARE = 0.02
PAYLOAD_VALUES = 4
TOPICS = 2_000
PER_FILE = 50


def generate(seed: int, messages: int):
    rng = random.Random(seed)
    names = [f"sensors/{i % 100:02d}/{i:05d}" for i in range(TOPICS)]
    salt = [rng.randrange(1000) for _ in range(TOPICS)]

    def payload(i: int) -> bytes:
        v = (salt[i] + rng.randrange(PAYLOAD_VALUES)) % 1000
        return json.dumps({"v": v, "u": "C"}).encode()

    order = list(range(TOPICS))
    rng.shuffle(order)
    out = [(names[i], payload(i), 0, 0) for i in order[:messages]]
    while len(out) < messages:
        if rng.random() < OFF_SUBSCRIPTION_SHARE:
            out.append((f"status/{rng.randrange(50)}", b"on", 0, 1))
            continue
        i = rng.randrange(TOPICS)
        out.append((names[i], payload(i), rng.randrange(3), rng.randrange(2)))
    return out


def write_spool(spool_dir: str, msgs) -> int:
    os.makedirs(spool_dir, exist_ok=True)
    files = 0
    for lo in range(0, len(msgs), PER_FILE):
        name = f"m{files:08d}"
        tmp = os.path.join(spool_dir, "." + name)
        with open(tmp, "w") as f:
            f.writelines(
                f"{t}\t{p.hex()}\t{q}\t{r}\n" for t, p, q, r in
                msgs[lo:lo + PER_FILE]
            )
        os.replace(tmp, os.path.join(spool_dir, name))
        files += 1
    return files


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="seeded MQTT spool generator")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--spool-dir", required=True)
    p.add_argument("--messages", type=int, required=True)
    args = p.parse_args(argv)
    msgs = generate(args.seed, args.messages)
    files = write_spool(args.spool_dir, msgs)
    print(json.dumps({"files": files, "messages": len(msgs)}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
