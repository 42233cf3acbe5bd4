"""Deterministic synthetic crawl fixtures: frontier URLs, robots, pages.

The sandbox has no network and no 10^10-URL frontier, so the engine's crawl
loop runs against a fully deterministic synthetic world derived from integer
ids with modular arithmetic — no wall clock, no RNG state, no external data
(BASELINE.json north_rule). The SAME pure-Python formulas drive:

- the distributed Spark generators (Arrow-batched ``mapInPandas`` over
  ``spark.range`` — scales to any frontier size, embarrassingly parallel,
  zero shuffle), and
- the single-process oracle used by tests to pin crawl order / URL-seen /
  span sequences (SURVEY.md §5).

so Spark output equals oracle output by construction; the interesting
equality checks are the ones where Spark logic is independent (parser column
expressions, dedup, politeness rank).

Shape requirements mirror FIXTURES.md §2-3: skewed host distribution (hot
job boards dominate — exercises salting), mixed-case hosts, utm tracking
params, unsorted query keys, duplicate URLs differing only in those, priority
ties (exercise the (priority DESC, url ASC) total order), hosts whose robots
deny everything.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from job_crawler_spark import schemas

SEED = 42  # folded into every formula as an additive/multiplicative constant

# ~80% of URLs live on the first 4 hosts — the hot-domain skew the north
# rule requires the scheduler to defeat.
HOSTS: tuple[str, ...] = (
    "boards.megajobs.example",      # 40%
    "careers.bigcorp.example",      # 20%
    "jobs.hotstartup.example",      # 12%
    "listings.agency.example",      # 8%
    "java-jobs.example", "pythonworks.example", "remote-first.example",
    "hiring.fintech.example", "talent.search.example", "devjobs.example",
    "ml-careers.example", "data-roles.example", "cloudhire.example",
    "infra-jobs.example", "backend.example", "frontend.example",
    "fullstack.example", "platform-eng.example", "sre-board.example",
    "graduate-roles.example",       # 20 hosts; tail gets 1% each
)

_HOST_CUTS = (40, 60, 72, 80)  # cumulative % for the 4 hot hosts


def host_index(i: int) -> int:
    b = (i * 2654435761 + SEED) % 100  # Knuth multiplicative hash -> bucket
    for idx, cut in enumerate(_HOST_CUTS):
        if b < cut:
            return idx
    return 4 + (b - _HOST_CUTS[-1]) % (len(HOSTS) - 4)


def priority_for(i: int) -> float:
    """Freshness/depth score in [0,1), quantized to 1/64 so ties exist."""
    return ((i * 1103515245 + SEED) % 64) / 64.0


def raw_url_for(i: int) -> str:
    """Raw (pre-canonicalization) URL for frontier id ``i``.

    Deliberately messy: every 7th has an uppercase host, every 3rd carries a
    utm_ tracking param, query keys are emitted unsorted, and every 11th id
    (>0) duplicates id i-1's canonical URL with different tracking noise —
    so canonicalization + dedup have real work to do.
    """
    if i % 11 == 0 and i > 0:
        base = i - 1
        host = HOSTS[host_index(base)]
        return (
            f"https://{host}/jobs/{base}?utm_campaign=dup{i}&loc=ldn&q=eng"
        )
    host = HOSTS[host_index(i)]
    if i % 7 == 0:
        host = host.upper()
    qs = f"q=eng&loc=ldn" if i % 2 == 0 else f"loc=ldn&q=eng"
    if i % 3 == 0:
        qs += f"&utm_source=feed{i % 5}"
    return f"https://{host}/jobs/{i}?{qs}"


def seed_frontier(spark: SparkSession, n: int, start: int = 0) -> DataFrame:
    """Distributed seed-frontier generator: spark.range -> mapInPandas.

    Narrow (no shuffle); each partition derives its rows from ids alone, so
    this scales linearly to a 10^10-row frontier on a real cluster.
    ``start`` offsets the id range — disjoint ranges yield disjoint URL
    batches (continuous-ingestion benchmarks/tests).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from job_crawler_spark.functions.urls import py_host

        for pdf in batches:
            ids = pdf["id"].tolist()
            urls = [raw_url_for(i) for i in ids]
            yield pd.DataFrame(
                {
                    "url": urls,
                    "host": [py_host(u) for u in urls],
                    "depth": [0] * len(ids),
                    "priority": [priority_for(i) for i in ids],
                    "discovered_at": [None] * len(ids),
                    "round": [0] * len(ids),
                }
            )

    return spark.range(start, start + n).mapInPandas(
        gen, schema=schemas.FRONTIER_SCHEMA
    )


# ---------------------------------------------------------------------------
# robots.txt world
# ---------------------------------------------------------------------------

def robots_rows() -> list[dict[str, Any]]:
    """Politeness rules per host (FIXTURES.md §3).

    crawl_delay maps to a per-round per-host budget; one host denies
    everything, hot hosts get tighter budgets than tail hosts.
    """
    rows: list[dict[str, Any]] = []
    for idx, host in enumerate(HOSTS):
        if host == "talent.search.example":
            rows.append(
                {"host": host, "crawl_delay": 60, "allow": [], "deny": ["/"]}
            )
            continue
        crawl_delay = (1, 2, 2, 5)[idx] if idx < 4 else 1
        deny = ["/private", "/admin"] if idx % 3 == 0 else []
        rows.append(
            {"host": host, "crawl_delay": crawl_delay, "allow": ["/"], "deny": deny}
        )
    return rows


def robots_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(robots_rows(), schema=schemas.ROBOTS_SCHEMA)


# ---------------------------------------------------------------------------
# Synthetic pages (what the "network" returns for a canonical URL)
# ---------------------------------------------------------------------------

_TITLES = (
    "Senior Python Engineer", "Graduate Java Developer",
    "DevOps Manager", "Data Engineer", "Frontend React Developer",
    "Platform Engineer", "Machine Learning Engineer", "SRE",
)
_COMPANIES = (
    "MegaJobs Ltd", "BigCorp", "HotStartup", "The Agency", "FinTech Co",
    "CloudHire", "DataRoles Inc", "Backend Systems",
)
_TECH_SENTENCES = (
    "We use Python, Django and PostgreSQL on AWS with Docker.",
    "Stack: Java, Spring, Kubernetes, Terraform and Jenkins pipelines.",
    "You will write JavaScript and React, with Node services and Redis.",
    "Experience with Go, Rust or C++ a plus; we love microservices and ci/cd.",
    "SQL, MySQL, MongoDB, Elasticsearch — data everywhere. Agile, scrum, git.",
)
_EXP_PHRASES = (
    "This is a junior, entry level role for early career engineers.",
    "Mid level: 3-5 years experience expected.",
    "Senior position, 5+ years; principal track available.",
    "You will be a manager leading a team; reports to the director.",
    "",  # not_specified
)
_REMOTE_PHRASES = (
    "Fully remote, work from home welcome.",
    "Hybrid working, 2-3 days in the office.",
    "In person at our London office.",
    "",  # not_specified
)
_BENEFIT_SETS = (
    "pension, healthcare",
    "holiday, flexible hours, learning budget",
    "insurance",
    "",  # no benefits
)

# Filler paragraphs bring synthetic pages to realistic job-posting size
# (~2-3 KB). Real listings are kilobytes of prose; benchmarking on 300-byte
# pages would overstate fixed-cost share and understate parse throughput.
_FILLER_SENTENCES = (
    "You will collaborate with product managers and designers to ship "
    "features that customers love, participating in code reviews and "
    "architectural discussions across the engineering organisation.",
    "Our interview process consists of a phone screen, a take-home "
    "exercise reviewed together, and a final onsite loop covering systems "
    "design, coding, and a values conversation with the team.",
    "We operate a blameless postmortem culture, invest in developer "
    "tooling, and hold a quarterly hack week where anyone can prototype "
    "ideas that frequently graduate into the production roadmap.",
    "The team owns its services end to end, from design through "
    "deployment and operations, with on-call rotations compensated and "
    "capped to protect work-life balance for every engineer.",
    "Applicants should be comfortable working in a distributed team "
    "across European time zones, communicating asynchronously through "
    "written design documents and recorded demos.",
    "We sponsor visas where applicable, offer relocation assistance, and "
    "run a structured onboarding programme pairing every new joiner with "
    "an experienced buddy for their first ninety days.",
    "Compensation is benchmarked annually against market data, with "
    "equity refreshers and a transparent levelling framework published "
    "internally for every role in the company.",
    "Diversity and inclusion are core to how we hire: we use structured "
    "interviews, diverse panels, and anonymised exercise review to reduce "
    "bias at every stage of the funnel.",
)


def _filler(seed: int) -> str:
    # 6-10 sentences selected deterministically -> ~1.5-2.5 KB of prose
    k = 6 + (seed % 5)
    return " ".join(
        _FILLER_SENTENCES[(seed >> (2 * j)) % len(_FILLER_SENTENCES)]
        for j in range(k)
    )


def _page_seed(url_canon: str) -> int:
    """Deterministic 32-bit int from the canonical URL (crc32 — C-speed,
    stable across processes; shared by the Spark fetch stage and the
    single-process oracle so page contents agree by construction)."""
    import zlib

    return zlib.crc32(url_canon.encode("utf-8")) & 0xFFFFFFFF


def page_for_url(url_canon: str) -> str:
    """The synthetic 'network': canonical URL -> deterministic page text.

    Page layout interleaves listing text, a logo media marker, a salary
    line and a benefits line — the raw material the span parser
    (crawl/parser.py) re-structures into the
    (kind, text, media_ref, offset) sequence of BASELINE.json's input_hint.
    """
    s = _page_seed(url_canon)
    title = _TITLES[s % len(_TITLES)]
    company = _COMPANIES[(s >> 3) % len(_COMPANIES)]
    tech = _TECH_SENTENCES[(s >> 6) % len(_TECH_SENTENCES)]
    exp = _EXP_PHRASES[(s >> 9) % len(_EXP_PHRASES)]
    remote = _REMOTE_PHRASES[(s >> 12) % len(_REMOTE_PHRASES)]
    benefits = _BENEFIT_SETS[(s >> 15) % len(_BENEFIT_SETS)]
    smin = 30000 + (s % 8) * 5000
    smax = smin + 10000 + ((s >> 4) % 4) * 5000

    parts = [f"{title} at {company}. {tech}"]
    if exp:
        parts.append(exp)
    if remote:
        parts.append(remote)
    parts.append(_filler(s))
    page = " ".join(parts)
    page += f" <img:logo_{s % 97}.png>"
    if (s >> 18) % 4 != 0:  # 3/4 of pages carry a salary line
        page += f" Salary: {smin} - {smax}."
    if benefits:
        page += f" Benefits: {benefits}."
    # outlinks: 0-3 discovered URLs, same-host and cross-host
    n_links = (s >> 20) % 4
    for k in range(n_links):
        target = (s + k * 7919) % (10**9)
        host = HOSTS[host_index(target)]
        page += f" <a:https://{host}/jobs/{target}?q=eng&loc=ldn>"
    return page
