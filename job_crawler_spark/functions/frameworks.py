"""Analysis-framework / template generators (reference D2-D5) as column
expressions.

The reference builds deeply nested prompt/template structs per job
(create_analysis_framework main.py:361-437, compatibility template
main.py:569-730, application templates main.py:1002-1143, career progression
main.py:1284-1579). None of it needs Python per row: every piece is string
interpolation over row fields (F7), vocabulary bucketing (U4), set
difference (U3), ordered slicing (O5), and clamps (F16) — all stock
Catalyst expressions, fully codegen'd, shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Compatibility weights (reference main.py:665-700): 40/25/20/15.
COMPAT_WEIGHTS = {
    "technical_skills": 40,
    "experience_level": 25,
    "salary_alignment": 20,
    "work_arrangement": 15,
}

# Benefit-category keywords (reference main.py:1028-1036, D4/F3).
BENEFIT_CATEGORIES: dict[str, tuple[str, ...]] = {
    "health_insurance": ("health", "medical", "dental", "vision"),
    "flexible_hours": ("flexible", "hours", "work-life balance"),
    "remote_work": ("remote", "work from home", "hybrid"),
    "learning_budget": ("learning", "training", "courses", "development"),
    "pension": ("pension", "401k", "retirement"),
    "stock_options": ("equity", "stock", "options", "shares"),
}


def benefit_categories_col(description_lc: Column) -> Column:
    """Detected benefit categories, Title Cased with underscores -> spaces
    (F8), in dict insertion order (reference main.py:1037-1041)."""
    cats = F.array(
        *[
            F.when(
                _any_kw(description_lc, kws),
                F.lit(name.replace("_", " ").title()),
            )
            for name, kws in BENEFIT_CATEGORIES.items()
        ]
    )
    return F.filter(cats, lambda x: x.isNotNull())


def _any_kw(hay: Column, kws: tuple[str, ...]) -> Column:
    cond = F.lit(False)
    for k in kws:
        cond = cond | hay.contains(k)
    return cond


def analysis_framework_col(
    title: Column, company: Column, description: Column
) -> Column:
    """D2 (main.py:361-437): nested framework struct; description truncated
    to 800 chars (P1). Prompt bodies are deterministic templates — only the
    requirements_extraction prompt interpolates row fields."""
    desc800 = F.substring(F.coalesce(description, F.lit("")), 1, 800)
    req_prompt = F.format_string(
        "Analyze this job posting and extract: required skills, "
        "nice-to-haves, experience, responsibilities, benefits, red flags.\n"
        "Job Title: %s\nCompany: %s\nDescription: %s",
        F.coalesce(title, F.lit("")),
        F.coalesce(company, F.lit("")),
        desc800,
    )
    return F.struct(
        F.coalesce(title, F.lit("")).alias("job_title"),
        desc800.alias("job_description"),
        F.coalesce(company, F.lit("")).alias("company"),
        F.struct(
            req_prompt.alias("requirements_extraction"),
            F.lit(
                "Score this job compatibility: technical match, experience "
                "alignment, responsibilities fit, salary, remote preference. "
                "Provide a score 1-10 with reasoning."
            ).alias("compatibility_scoring"),
            F.lit(
                "Suggest CV highlights, cover letter points, likely "
                "interview questions, and company research areas."
            ).alias("application_strategy"),
        ).alias("analysis_prompts"),
        F.create_map(
            F.lit("technical_skills"), F.lit(COMPAT_WEIGHTS["technical_skills"]),
            F.lit("experience_level"), F.lit(COMPAT_WEIGHTS["experience_level"]),
            F.lit("salary_alignment"), F.lit(COMPAT_WEIGHTS["salary_alignment"]),
            F.lit("work_arrangement"), F.lit(COMPAT_WEIGHTS["work_arrangement"]),
        ).alias("criteria_weights"),
    )


def compatibility_score_col(
    job_tech: Column,
    user_skills_lc: Column,
    job_salary_mid: Column,
    salary_expectation: Column,
    job_remote: Column,
    remote_preference: Column,
    experience_gap_years: Column,
) -> Column:
    """Deterministic 1-10 compatibility score with the reference's 40/25/
    20/15 weights (main.py:665-700). The reference leaves per-criterion
    scoring to the LLM; the engine pins an arithmetic rubric so results are
    reproducible:

    - technical: 10 * |job_tech ∩ user|/|job_tech| (neutral 5 when the
      posting states no tech requirements — unknown, not perfect)
    - experience: 10 - 2*|gap_years| clamped to [1,10]
    - salary: 10 * min(1, mid/expectation) clamped to [1,10]
    - arrangement: 10 exact match, 6 one-sided hybrid, 3 mismatch
    """
    n_req = F.size(job_tech)
    n_match = F.size(
        F.filter(job_tech, lambda t: F.array_contains(user_skills_lc, t))
    )
    tech = F.when(n_req > 0, 10.0 * n_match / n_req).otherwise(F.lit(5.0))
    exp = F.greatest(
        F.lit(1.0), F.least(F.lit(10.0), 10.0 - 2.0 * F.abs(experience_gap_years))
    )
    sal = F.when(
        salary_expectation.isNull() | job_salary_mid.isNull(), F.lit(7.0)
    ).otherwise(
        F.greatest(
            F.lit(1.0),
            F.least(F.lit(10.0), 10.0 * job_salary_mid / salary_expectation),
        )
    )
    arr = (
        F.when(job_remote == remote_preference, F.lit(10.0))
        .when(
            (job_remote == "hybrid") | (remote_preference == "hybrid"), F.lit(6.0)
        )
        .when(job_remote == "not_specified", F.lit(5.0))
        .otherwise(F.lit(3.0))
    )
    total = (
        tech * COMPAT_WEIGHTS["technical_skills"]
        + exp * COMPAT_WEIGHTS["experience_level"]
        + sal * COMPAT_WEIGHTS["salary_alignment"]
        + arr * COMPAT_WEIGHTS["work_arrangement"]
    ) / 100.0
    from job_crawler_spark.functions.compat import stable_round

    return stable_round(total, 2)


def career_track_col(target_role_lc: Column) -> Column:
    """D5 role classifier (main.py:1416-1440): nested substring rules with
    exact reference precedence — senior/lead check first, data beats
    product, engineer/developer requires NOT data AND NOT product."""
    is_senior = target_role_lc.contains("senior") | target_role_lc.contains("lead")
    is_eng = (
        (target_role_lc.contains("engineer") | target_role_lc.contains("developer"))
        & ~target_role_lc.contains("data")
        & ~target_role_lc.contains("product")
    )
    is_data = target_role_lc.contains("data")
    track = (
        F.when(is_eng, "software_engineer")
        .when(is_data, "data_scientist")
        .otherwise("product_manager")
    )
    stage = F.when(is_senior, "mid_to_senior").otherwise("junior_to_mid")
    return F.struct(track.alias("track"), stage.alias("stage"))


def skill_gap_cols(required: Column, current_lc: Column) -> dict[str, Column]:
    """U3 + O5 (main.py:1446-1456): ordered set difference preserving the
    required-list order, split into immediate (first 2) and medium-term."""
    missing = F.filter(
        required, lambda s: ~F.array_contains(current_lc, F.lower(s))
    )
    return {
        "missing": missing,
        "immediate_focus": F.slice(missing, 1, 2),
        "medium_term": F.when(
            F.size(missing) > 2, F.slice(missing, 3, F.size(missing) - 2)
        ).otherwise(F.array().cast("array<string>")),
    }
