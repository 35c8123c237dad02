"""Biolink naming helpers (SURVEY §2.7 X5/X6).

- ``biolink_snake_case``: CamelCase → snake_case with non-alnum → '_'
  (the reference's src/dug/utils.py:53-72).
- ``prettify_biolink_type``: 'biolink:SmallMolecule' → 'small molecule'
  (annotators/_base.py:171-179 fallback path; the bmt-toolkit lookup is a
  static table → broadcast join in normalize when a table is supplied).
"""

from __future__ import annotations

import re


def biolink_snake_case(arg: str) -> str:
    tmp = re.sub(r"\W", "_", arg)
    tmp = re.sub(r"(?<=[a-z])[A-Z](?=[a-z])", lambda c: "_" + c.group(0).lower(), tmp)
    return re.sub(r"^[A-Z](?=[a-z])", lambda c: c.group(0).lower(), tmp)


def prettify_biolink_type(bl_type: str) -> str:
    """'biolink:SmallMolecule' → 'small molecule' (fallback regex split,
    annotators/_base.py:174-179)."""
    bare = bl_type.replace("biolink:", "")
    return " ".join(re.split("(?=[A-Z])", bare)[1:]).lower()
