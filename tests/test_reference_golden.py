"""Replay the reference's golden JSON corpus (SURVEY.md §5 layer 1) against
this engine — the reference's own cross-engine correctness contract.

Run summary is asserted in aggregate (one slow sweep instead of 460
SparkSession-bound pytest params). DIVERGENT_CASES documents the cases where
our scale-path algorithm intentionally differs from the reference's
sample-based one; everything else must match.
"""

import pytest

from golden_harness import SkipCase, iter_cases, require_corpus, run_case

# (expectation_type, title) -> reason we intentionally diverge.
# EMPTY since round 2: the bootstrapped-KS expectation now runs the
# reference's own seeded-bootstrap algorithm with an exact small-n KS
# distribution (operators/drift.py _compile_bootstrapped_ks), which closed
# the last two divergences.
DIVERGENT_CASES: dict = {}


@pytest.mark.golden
def test_reference_golden_corpus(spark):
    from great_expectations_spark.engine import SparkValidationEngine

    require_corpus()

    engine = SparkValidationEngine(spark)
    passed = failed = skipped = divergent = 0
    failures = []
    for etype, path, i, ds, case in iter_cases():
        key = (etype, case.get("title"))
        try:
            ok, detail = run_case(spark, engine, etype, ds, case)
        except SkipCase:
            skipped += 1
            continue
        except Exception as e:  # harness-level breakage is a failure
            ok, detail = False, f"harness: {type(e).__name__}: {e}"
        if ok:
            passed += 1
        elif key in DIVERGENT_CASES:
            divergent += 1
        else:
            failed += 1
            failures.append((etype, case.get("title"), detail[:200]))

    total = passed + failed + divergent
    assert failed == 0, (
        f"{failed}/{total} golden cases failed (passed={passed}, "
        f"divergent={divergent}, skipped={skipped}):\n"
        + "\n".join(map(str, failures[:20]))
    )
    # guard against silently running a shrunken corpus
    assert passed >= 450, f"only {passed} golden cases passed/ran"
