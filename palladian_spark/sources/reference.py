"""Where the Palladian reference tree lives: the Java project whose
test resources the `ner_reference_agreement` acceptance query and the
reference-parity tests read.

One shared location: $PALLADIAN_REFERENCE_ROOT, else
`reference/palladian-core` beside the repository checkout. A host
without the tree must say so by name, so `reference_path` raises
ReferenceTreeAbsent instead of a bare FileNotFoundError from deep inside
a query.
"""

from __future__ import annotations

import os

_CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REFERENCE_ROOT = os.environ.get(
    "PALLADIAN_REFERENCE_ROOT",
    os.path.join(os.path.dirname(_CHECKOUT), "reference", "palladian-core"),
)


class ReferenceTreeAbsent(FileNotFoundError):
    """A file of the reference tree is not on this host."""


def reference_path(*parts: str) -> str:
    """Path of a reference-tree file; ReferenceTreeAbsent if missing."""
    path = os.path.join(REFERENCE_ROOT, *parts)
    if not os.path.exists(path):
        raise ReferenceTreeAbsent(
            f"reference tree absent: {path} (set PALLADIAN_REFERENCE_ROOT)"
        )
    return path
