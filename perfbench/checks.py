"""Output checks. Each returns a list of failure messages (empty = pass);
they take plain Python values so the self-test can feed them corrupted
results. Every failed check fails its op and counts in ``failed``."""

from __future__ import annotations

from collections import Counter
from urllib.parse import urlsplit


def check_crawl_round(fetched: list[tuple[str, str]], prior: set[str],
                      url_seen: set[str], budget: int) -> list[str]:
    """One crawl round. ``fetched`` is this round's (canonical_url, host)
    rows, ``prior`` the canonical URLs fetched by earlier rounds and
    ``url_seen`` the committed url_seen table after the round."""
    errs = []
    urls = [u for u, _ in fetched]
    dup = [u for u, n in Counter(urls).items() if n > 1]
    dup += sorted(set(urls) & prior)
    if dup:
        errs.append(f"{len(dup)} canonical URLs fetched twice, e.g. {dup[0]}")
    private = [u for u in urls
               if (urlsplit(u).path + "/").startswith("/private/")]
    if private:
        errs.append(f"{len(private)} /private URLs fetched, e.g. {private[0]}")
    expected = prior | set(urls)
    if url_seen != expected:
        errs.append(f"url_seen differs from fetched URLs: "
                    f"{len(url_seen - expected)} extra, "
                    f"{len(expected - url_seen)} missing")
    over = {h: n for h, n in Counter(h for _, h in fetched).items()
            if n > budget}
    if over:
        h, n = next(iter(over.items()))
        errs.append(f"{len(over)} hosts over the budget of {budget}, "
                    f"e.g. {h} with {n}")
    return errs


def check_manifest(rows: list[dict], expected_hosts: dict[str, int]
                   ) -> list[str]:
    """Per-host manifest vs the per-host page counts of the input."""
    errs = []
    n_in = sum(expected_hosts.values())
    n_out = sum(r["n_pages"] for r in rows)
    if n_out != n_in:
        errs.append(f"manifest n_pages {n_out} != input size {n_in}")
    got = {r["host"]: r["n_pages"] for r in rows}
    if got != expected_hosts:
        bad = sorted(h for h in set(got) | set(expected_hosts)
                     if got.get(h) != expected_hosts.get(h))
        errs.append(f"{len(bad)} hosts with wrong n_pages, e.g. {bad[0]}")
    dups = [r["host"] for r in rows if r["n_unique_urls"] != r["n_pages"]]
    if dups:
        errs.append(f"{len(dups)} hosts with duplicate canonical URLs")
    return errs


def check_text_sample(actual: dict[str, tuple], expected: dict[str, tuple]
                      ) -> list[str]:
    """Sampled pages: (text, ok) from the engine vs the single-process
    ``functions.kernel.clean_html``; text must be byte-identical."""
    errs = []
    missing = sorted(set(expected) - set(actual))
    if missing:
        errs.append(f"{len(missing)} sampled pages missing, "
                    f"e.g. {missing[0]}")
    bad = sorted(u for u in set(expected) & set(actual)
                 if actual[u] != expected[u])
    if bad:
        errs.append(f"{len(bad)} sampled pages differ from clean_html, "
                    f"e.g. {bad[0]}")
    return errs


def check_query(got: list[tuple[int, int]], want: list[tuple[int, int]]
                ) -> list[str]:
    """One BM25 query: engine (id, score) rows vs the DuckDB oracle."""
    if got == want:
        return []
    return [f"query result differs from the DuckDB oracle: "
            f"{got[:3]} vs {want[:3]}"]
