"""Load generator for the ingest workloads, and the message model that
the output checks share with it.

One process, one TCP connection, one thread. Every line is an RFC3164
message of exactly LINE_BYTES bytes (newline included), stamped with
its sequence number and scheduled send time (epoch microseconds).

  steady: open loop at --rate lines/s. Line k is due at t0 + k/rate;
          each wake-up sends every line that is due, so a slow
          receiver makes the generator late but never slows the
          schedule. Lateness is send time minus scheduled time.
  burst:  all --count lines are due at t0 and go out as fast as the
          connection takes them. Lateness is how late the first byte
          went out.

Usage:
  python3 gen.py --port P --seed S --mode steady|burst --rate R
                 --first-seq F --count N --report out.json
"""

import argparse
import bisect
import json
import random
import socket
import time

LINE_BYTES = 160
LEAD_S = 0.05  # t0 is this far after the lines are built
# Epoch microseconds have 16 digits until the year 2286.
PLACEHOLDER = 10 ** 15
PLACEHOLDER_BYTES = b"%d" % PLACEHOLDER

SEVERITIES = list(range(8))
SEVERITY_WEIGHTS = [1, 1, 2, 6, 10, 15, 40, 25]
PROGRAMS = ["sshd", "nginx", "cron", "postfix", "kernel", "app"]
PROGRAM_WEIGHTS = [20, 25, 15, 10, 10, 20]
ACTIONS = ["login", "logout", "read", "write", "purge"]
FACILITIES = [1, 3, 4, 16]


def _cumulative(weights):
    total = sum(weights)
    acc, out = 0, []
    for w in weights:
        acc += w
        out.append(acc / total)
    return out


SEVERITY_CUM = _cumulative(SEVERITY_WEIGHTS)
PROGRAM_CUM = _cumulative(PROGRAM_WEIGHTS)


def message(rng):
    """Draw one message from `rng`: (pri, host, program, pid, action,
    user, kept, route). `kept` and `route` are what the benchmarked
    pipeline must do with it."""
    r = rng.random
    sev = SEVERITIES[bisect.bisect(SEVERITY_CUM, r())]
    prog = PROGRAMS[bisect.bisect(PROGRAM_CUM, r())]
    fac = FACILITIES[int(r() * len(FACILITIES))]
    action = ACTIONS[int(r() * len(ACTIONS))]
    host = int(r() * 32)
    pid = 100 + int(r() * 29900)
    user = int(r() * 1000)
    kept = sev <= 6 and prog != "cron"
    if not kept:
        route = None
    elif action == "login":
        route = "auth"
    elif sev <= 3:
        route = "alert"
    else:
        route = "bulk"
    return fac * 8 + sev, host, prog, pid, action, user, kept, route


def messages(seed, first_seq, count):
    """The `count` messages of the phase that starts at `first_seq`; the
    same seed and phase always give the same messages."""
    rng = random.Random(f"{seed}/{first_seq}")
    return [message(rng) for _ in range(count)]


def render(seq, sched_us, m):
    pri, host, prog, pid, action, user = m[:6]
    head = (f"<{pri}>Oct 17 12:00:00 host{host:02d} {prog}[{pid}]: "
            f"seq={seq} sched={sched_us} action={action} user=u{user:03d} pad=")
    pad = LINE_BYTES - 1 - len(head)
    assert pad > 0, head
    return (head + "x" * pad + "\n").encode("ascii")


def lateness_ms(sched_us, sent_us):
    """How late each send ran against its schedule, in ms (never < 0)."""
    return [max(0.0, (s - d) / 1000.0) for d, s in zip(sched_us, sent_us)]


def schedule_us(t0_us, rate, count):
    return [t0_us + (k * 1_000_000) // rate for k in range(count)]


def run(args):
    msgs = messages(args.seed, args.first_seq, args.count)
    # render with a placeholder stamp of the same width, then fill in the
    # schedule once it is fixed, just before sending starts
    lines = [render(args.first_seq + k, PLACEHOLDER, m) for k, m in enumerate(msgs)]
    t0_us = time.time_ns() // 1000 + int(LEAD_S * 1e6)
    if args.mode == "steady":
        sched = schedule_us(t0_us, args.rate, args.count)
        lines = [ln.replace(PLACEHOLDER_BYTES, b"%d" % d) for ln, d in zip(lines, sched)]
    else:
        payload = b"".join(lines).replace(PLACEHOLDER_BYTES, b"%d" % t0_us)
    sock = socket.create_connection(("127.0.0.1", args.port))
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    group_sched, group_sent = [], []
    try:
        if args.mode == "steady":
            k = 0
            while k < args.count:
                now = time.time_ns() // 1000
                if sched[k] > now:
                    time.sleep((sched[k] - now) / 1e6)
                    continue
                j = k
                while j < args.count and sched[j] <= now:
                    j += 1
                sock.sendall(b"".join(lines[k:j]))
                group_sched.append(sched[k])
                group_sent.append(time.time_ns() // 1000)
                k = j
        else:
            now = time.time_ns() // 1000
            if t0_us > now:
                time.sleep((t0_us - now) / 1e6)
            group_sched.append(t0_us)
            group_sent.append(time.time_ns() // 1000)
            sock.sendall(payload)
    finally:
        sock.close()
    late = sorted(lateness_ms(group_sched, group_sent))
    report = {
        "sent": args.count,
        "t0_us": t0_us,
        "first_send_us": group_sent[0],
        "late_ms": late,
    }
    with open(args.report, "w") as f:
        json.dump(report, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--mode", choices=["steady", "burst"], required=True)
    ap.add_argument("--rate", type=int, default=4000)
    ap.add_argument("--first-seq", type=int, default=0)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--report", required=True)
    run(ap.parse_args())


if __name__ == "__main__":
    main()
