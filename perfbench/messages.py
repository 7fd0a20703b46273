"""Seeded syslog traffic: a mix of RFC5424, RFC3164 and bare lines.

Every message ends with ` pbseq=<n>`, the token the output check uses to
find it in the spool. The generator process and the checker build the
same messages from the same (seed, first, count)."""

from __future__ import annotations

import random
import re

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango "
         "uniform victor whiskey xray yankee zulu sshd kernel cron nginx "
         "accepted failed session opened closed timeout retry").split()
APPS = ("sshd", "kernel", "cron", "nginx", "postfix", "systemd")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep")
SEQ_RE = re.compile(r" pbseq=(\d+)$")
# The generator's address, and so the logStream of every record.
SOURCE = "127.0.0.1"

# (kind, share of the traffic). Bare lines carry no timestamp, so the relay
# rewrites them (P6); the other kinds are spooled verbatim.
KINDS = (("rfc5424", 0.4), ("rfc3164", 0.4), ("bare", 0.2))


def make_messages(seed: int, first: int, count: int) -> list[tuple[str, str]]:
    """[(kind, text)] for seqs first .. first+count-1."""
    rng = random.Random(f"{seed}:{first}:{count}")
    kinds = [k for k, _ in KINDS]
    weights = [w for _, w in KINDS]
    out = []
    for seq in range(first, first + count):
        kind = rng.choices(kinds, weights)[0]
        host = f"host{rng.randrange(64):02d}"
        app = rng.choice(APPS)
        body = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(4, 24)))
        prio = rng.randrange(8, 192)
        if kind == "rfc5424":
            ts = (f"2026-{rng.randrange(1, 10):02d}-{rng.randrange(1, 29):02d}T"
                  f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
                  f"{rng.randrange(60):02d}.{rng.randrange(10**6):06d}Z")
            text = f"<{prio}>1 {ts} {host} {app} {rng.randrange(99999)} - - {body}"
        elif kind == "rfc3164":
            ts = (f"{rng.choice(MONTHS)} {rng.randrange(1, 29):02d} "
                  f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
                  f"{rng.randrange(60):02d}")
            text = f"<{prio}>{ts} {host} {app}[{rng.randrange(99999)}]: {body}"
        else:
            text = f"{app} {body}"
        out.append((kind, f"{text} pbseq={seq}"))
    return out


def expected_message(kind: str, text: str, source: str) -> re.Pattern | str:
    """What the relay must spool for `text`: the text itself when its
    timestamp parses, else the P6 rewrite '<13>1 <recv-iso> <source> <text>'."""
    if kind == "bare":
        return re.compile(r"<13>1 \S+ " + re.escape(source) + " " + re.escape(text))
    return text
