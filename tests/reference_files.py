"""Guard for the analysis gates that read their vectors straight out of
the Lucene reference source tree (its lucene/analysis/common test
data). Without that tree those gates cannot run; they skip, naming the
missing file, instead of failing. README.md lists the gates that are
then unverified."""

import os

import pytest


def require_reference_file(path):
    """Skip the calling test unless the reference file ``path`` exists."""
    if not os.path.exists(path):
        pytest.skip(f"reference test data not present: {path} (this "
                    "gate needs the Lucene reference source tree)")
