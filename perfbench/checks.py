"""Output checks, one family per workload. Each returns the problems it
found (empty when the output is right); a problem fails the operation it
belongs to. Pure Python over collected rows, so tests can plant faults."""

from __future__ import annotations

from collections import Counter, defaultdict
from urllib.parse import urlsplit


def deny_rules(robots: list[tuple[str, str, str]]) -> dict[str, list[str]]:
    """host -> denied path prefixes (the benchmark plants deny rules only,
    so a matching prefix always denies)."""
    out: dict[str, list[str]] = defaultdict(list)
    for host, rule, prefix in robots:
        if rule == "deny":
            out[host].append(prefix)
    return dict(out)


def check_crawl(
    rows: list[dict],
    budgets: dict[str, int],
    deny: dict[str, list[str]],
    rounds: int,
) -> dict[int, list[str]]:
    """Committed fetch_log rows (round, fetch_order, canon_url, host) ->
    {round: problems}. No URL is scheduled twice across rounds, no host
    exceeds its budget in a round, no robots-denied URL is scheduled, and
    each round's fetch_order is exactly 1..n."""
    bad: dict[int, list[str]] = defaultdict(list)
    first: dict[str, int] = {}
    per_host: Counter = Counter()
    orders: dict[int, list[int]] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["round"], r["fetch_order"])):
        rnd, url, host = r["round"], r["canon_url"], r["host"]
        if url in first:
            bad[rnd].append(f"{url} scheduled in round {first[url]} and again in round {rnd}")
        else:
            first[url] = rnd
        per_host[(rnd, host)] += 1
        path = urlsplit(url).path or "/"
        if any(path.startswith(p) for p in deny.get(host, ())):
            bad[rnd].append(f"{url} is denied by robots")
        orders[rnd].append(r["fetch_order"])
    for (rnd, host), n in per_host.items():
        if n > budgets.get(host, 0):
            bad[rnd].append(f"host {host} got {n} > budget {budgets.get(host, 0)}")
    for rnd in range(1, rounds + 1):
        got = orders.get(rnd, [])
        if sorted(got) != list(range(1, len(got) + 1)):
            bad[rnd].append(f"fetch_order of round {rnd} is not 1..{len(got)}")
        if not got:
            bad[rnd].append(f"round {rnd} scheduled nothing")
    return dict(bad)


def check_extract(
    row: dict, expected_fp: int, expected_n: int, prev_fp_all: int | None
) -> list[str]:
    """The (url, text) fingerprint of the extracted records equals the
    generated source text's (byte-identical text), no record lost its
    text, and the whole-output fingerprint repeats across passes."""
    problems = []
    if row["n_text"] != expected_n:
        problems.append(f"{row['n_text']} records with text, expected {expected_n}")
    if row["fp_text"] != expected_fp:
        problems.append(f"(url, text) fingerprint {row['fp_text']} != source {expected_fp}")
    if row["n"] != row["n_text"]:
        problems.append(f"{row['n'] - row['n_text']} records without text")
    if prev_fp_all is not None and row["fp_all"] != prev_fp_all:
        problems.append(f"output fingerprint {row['fp_all']} != {prev_fp_all} of an earlier pass")
    return problems


def check_summary(got: dict, want: dict) -> list[str]:
    return [
        f"summarize {k}: {got.get(k)} != planted {v}" for k, v in want.items() if got.get(k) != v
    ]


def check_counts(kind: str, got: dict, want: dict) -> list[str]:
    return [] if got == want else [f"{kind} counts {got} != planted {want}"]
