"""Stale-claim guard for the hand-written BASELINE.md narrative.

BASELINE.md once cited readings that later runs contradicted. Those
two stale citations may only appear next to a retraction or historical
stamp.
"""

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_baseline_has_no_unstamped_superseded_claims():
    """The retracted 1.87 s stream_simhash reading and the 1.30x
    ann_cosine marginal may only occur next to a retraction/historical
    stamp anywhere in BASELINE.md."""
    with open(os.path.join(REPO, "BASELINE.md")) as fh:
        lines = fh.read().splitlines()
    for stale, context_word in (("1.87", "retract"), ("1.30×", "flip")):
        for i, line in enumerate(lines):
            if stale in line:
                window = "\n".join(lines[max(0, i - 3):i + 3])
                assert (
                    context_word in window
                    or "earlier run" in window
                    or "superseded" in window
                ), f"unstamped stale citation {stale!r}: {line!r}"
