"""Job-text feature extraction as pure Catalyst column expressions.

Re-expresses the reference's ``extract_basic_job_features``
(main.py:246-358) Spark-first: every rule is a built-in-function column
expression (whole-stage codegen, zero Python in the hot path), NOT a UDF.

Determinism rules preserved exactly (SURVEY.md §2.8 F1-F5, §7.3):

- matching is lowercase **plain substring** containment — NOT word-boundary;
  ``"go"`` matches inside ``"Django"`` (main.py:308-310).
- ``tech_stack`` output order = vocabulary order (the 37-keyword list at
  main.py:252-290), not document order.
- experience/remote classifiers are first-match-wins in exact dict insertion
  order (junior, mid, senior, management / remote, hybrid, onsite;
  main.py:292-322); remote scans description only, experience scans
  description + title.
- salary average only when both bounds present (main.py:329-339).
- ``has_benefits`` = any of six benefit words in description (main.py:347-357).

A reference-faithful single-process Python oracle (``py_extract_features``)
lives alongside for golden tests (SURVEY.md §5).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

# Vocabulary order is load-bearing: tech_stack spans are emitted in THIS
# order (reference main.py:252-290).
TECH_KEYWORDS: tuple[str, ...] = (
    "python", "javascript", "java", "c++", "c#", "ruby", "php", "go",
    "rust", "react", "vue", "angular", "node", "django", "flask", "spring",
    "laravel", "aws", "azure", "gcp", "docker", "kubernetes", "terraform",
    "jenkins", "sql", "postgresql", "mysql", "mongodb", "redis",
    "elasticsearch", "git", "agile", "scrum", "devops", "ci/cd",
    "microservices", "api",
)

# Insertion order is the first-match-wins priority (main.py:292-298).
EXPERIENCE_INDICATORS: dict[str, tuple[str, ...]] = {
    "junior": ("junior", "graduate", "entry level", "1-2 years", "early career"),
    "mid": ("mid", "intermediate", "3-5 years", "4+ years", "experienced"),
    "senior": ("senior", "lead", "5+ years", "7+ years", "expert", "principal"),
    "management": ("manager", "director", "head of", "vp", "cto", "lead team"),
}

# main.py:301-305; scanned against description only (main.py:318-322).
REMOTE_INDICATORS: dict[str, tuple[str, ...]] = {
    "remote": ("remote", "work from home", "wfh", "distributed"),
    "hybrid": ("hybrid", "flexible", "2-3 days", "part remote"),
    "onsite": ("office", "on-site", "in person", "london office"),
}

# main.py:349-356.
BENEFIT_KEYWORDS: tuple[str, ...] = (
    "pension", "healthcare", "insurance", "holiday", "flexible", "learning",
)

NOT_SPECIFIED = "not_specified"


def _any_contains(haystacks: list[Column], needles: tuple[str, ...]) -> Column:
    """OR-chain of plain substring containment — codegen'd, no regex."""
    cond = F.lit(False)
    for kw in needles:
        for hay in haystacks:
            cond = cond | hay.contains(kw)
    return cond


def tech_stack_col(description_lc: Column, title_lc: Column) -> Column:
    """``array<string>`` of matched tech keywords in VOCABULARY order (F5).

    `filter` over a literal array preserves the literal's order, matching the
    reference's ``[t for t in tech_keywords if t in desc or t in title]``.
    """
    vocab = F.array(*[F.lit(k) for k in TECH_KEYWORDS])
    return F.filter(
        vocab, lambda t: description_lc.contains(t) | title_lc.contains(t)
    )


def _first_match_col(
    indicators: dict[str, tuple[str, ...]], haystacks: list[Column]
) -> Column:
    """Chained when() in dict insertion order = first-match-wins (F4)."""
    expr: Column | None = None
    for label, keywords in indicators.items():
        cond = _any_contains(haystacks, keywords)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None
    return expr.otherwise(F.lit(NOT_SPECIFIED))


def experience_level_col(description_lc: Column, title_lc: Column) -> Column:
    return _first_match_col(EXPERIENCE_INDICATORS, [description_lc, title_lc])


def remote_policy_col(description_lc: Column) -> Column:
    return _first_match_col(REMOTE_INDICATORS, [description_lc])


def salary_info_col(salary_min: Column, salary_max: Column) -> Column:
    """struct(min,max,average) when both bounds present, else null (F15).

    Reference truthiness (main.py:330-334 ``if salary_min and salary_max``):
    a 0 bound is falsy there, so 0 yields no salary_info here either."""
    both = (
        salary_min.isNotNull()
        & salary_max.isNotNull()
        & (salary_min != 0)
        & (salary_max != 0)
    )
    return F.when(
        both,
        F.struct(
            salary_min.cast("double").alias("min"),
            salary_max.cast("double").alias("max"),
            ((salary_min + salary_max) / F.lit(2.0)).cast("double").alias("average"),
        ),
    )


def has_benefits_col(description_lc: Column) -> Column:
    return _any_contains([description_lc], BENEFIT_KEYWORDS)


def features_col(
    description: Column,
    title: Column,
    salary_min: Column | None = None,
    salary_max: Column | None = None,
) -> Column:
    """Full features struct: tech_stack, experience_level, remote_policy,
    salary_info{min,max,average}, description_length, has_benefits.

    Equivalent of reference extract_basic_job_features (main.py:246-358) as a
    single pure column expression: Catalyst folds the lowercase once via
    common-subexpression style reuse inside codegen.
    """
    desc_lc = F.lower(F.coalesce(description, F.lit("")))
    title_lc = F.lower(F.coalesce(title, F.lit("")))
    smin = salary_min if salary_min is not None else F.lit(None).cast("double")
    smax = salary_max if salary_max is not None else F.lit(None).cast("double")
    return F.struct(
        tech_stack_col(desc_lc, title_lc).alias("tech_stack"),
        experience_level_col(desc_lc, title_lc).alias("experience_level"),
        remote_policy_col(desc_lc).alias("remote_policy"),
        salary_info_col(smin, smax).alias("salary_info"),
        F.length(F.coalesce(description, F.lit(""))).alias("description_length"),
        has_benefits_col(desc_lc).alias("has_benefits"),
    )


# ---------------------------------------------------------------------------
# Single-process Python oracle (reference-faithful; golden-test comparator).
# ---------------------------------------------------------------------------

def py_extract_features(job: dict[str, Any]) -> dict[str, Any]:
    """Clean-room reimplementation of reference main.py:246-358 semantics."""
    description = (job.get("description") or "").lower()
    title = (job.get("title") or "").lower()

    found_tech = [
        t for t in TECH_KEYWORDS if t in description or t in title
    ]

    experience_level = NOT_SPECIFIED
    for level, keywords in EXPERIENCE_INDICATORS.items():
        if any(kw in description or kw in title for kw in keywords):
            experience_level = level
            break

    remote_policy = NOT_SPECIFIED
    for policy, keywords in REMOTE_INDICATORS.items():
        if any(kw in description for kw in keywords):
            remote_policy = policy
            break

    salary_info: dict[str, float] | None = None
    smin, smax = job.get("salary_min"), job.get("salary_max")
    # reference truthiness (main.py:330-334): 0 bound => no salary_info
    if (
        smin
        and smax
        and isinstance(smin, (int, float))
        and isinstance(smax, (int, float))
    ):
        salary_info = {
            "min": float(smin),
            "max": float(smax),
            "average": (smin + smax) / 2.0,
        }

    return {
        "tech_stack": found_tech,
        "experience_level": experience_level,
        "remote_policy": remote_policy,
        "salary_info": salary_info,
        "description_length": len(job.get("description") or ""),
        "has_benefits": any(b in description for b in BENEFIT_KEYWORDS),
    }
