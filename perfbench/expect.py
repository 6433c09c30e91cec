"""Expected crawl outcome, computed from the generated seeds table alone.

This re-implements, in plain Python, the rules the crawl engine must
honour — scheme and image-extension dispatch, first-seen URL dedup, the
crawler-domain host and the fixture's robots.txt deny rule — so the count
the engine reaches is checked against a derivation that shares no code
with it.
"""
import duckdb

IMAGE_EXTS = ("ico", "jpg", "png", "pdf", "bmp", "tiff")


def crawler_domain(url: str) -> str:
    d = url[url.find("//") + 2:]
    cut = d.find("/")
    if cut > -1:
        d = d[:cut]
    elif d.find("?") > -1:
        d = d[:d.find("?")]
    at = d.find("@")
    if at > -1:
        d = d[at + 1:]
    colon = d.rfind(":")
    if colon > -1:
        d = d[:colon]
    return d


def fetchable(url: str) -> bool:
    u = url.lower()
    return u.startswith("http") and not u.endswith(IMAGE_EXTS)


def robots_allowed(url: str) -> bool:
    """Fixture robots.txt: hosts whose length is a multiple of 3 disallow
    the `/p/3` path prefix for the crawler's user agent."""
    host = crawler_domain(url)
    rest = url.split("#", 1)[0]
    rest = rest[rest.find("//") + 2:]
    path = rest[rest.find("/"):] if "/" in rest else "/"
    return not (len(host) % 3 == 0 and path.startswith("/p/3"))


def read_seed_urls(seeds_dir: str) -> list:
    return [r[0] for r in duckdb.sql(
        f"SELECT url FROM read_parquet('{seeds_dir}/*.parquet')").fetchall()]


def expected_terminal(seed_urls) -> int:
    """URLs that must end in state `done` or `error`: the distinct
    fetchable, robots-allowed seed URLs."""
    return len({u for u in seed_urls if fetchable(u) and robots_allowed(u)})
