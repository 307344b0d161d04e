"""``tools/dump_plans.py`` refreshes only the fenced plan blocks of the
PLANS.md sections it owns: commentary, hand-drawn sections and their
annotated sketches survive a refresh."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "dump_plans",
    os.path.join(os.path.dirname(__file__), "..", "tools", "dump_plans.py"),
)
dump_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dump_plans)

DOC = """# PLANS

## owned

Why it scales.

```
old plan
+- Scan (1)
```

## hand (r13 shape)

```
Window    <- annotated by hand
```

## Plan rules
"""


def test_only_owned_blocks_are_replaced():
    out = dump_plans.replace_plan_blocks(DOC, {"owned": "new plan\n+- Scan (2)"})
    assert out == DOC.replace("old plan\n+- Scan (1)", "new plan\n+- Scan (2)")


def test_missing_owned_section_fails_loudly():
    with pytest.raises(SystemExit, match="gone"):
        dump_plans.replace_plan_blocks(DOC, {"gone": "plan"})
    # a plan block that is never closed names its section
    with pytest.raises(SystemExit, match="'hand'"):
        dump_plans.replace_plan_blocks(DOC.replace("by hand\n```", "by hand"), {"hand": "plan"})


def test_tagged_commentary_block_is_not_the_plan():
    doc = DOC.replace("Why it scales.\n", "Why it scales.\n\n```text\nsketch\n```\n")
    out = dump_plans.replace_plan_blocks(doc, {"owned": "new plan"})
    assert out == doc.replace("old plan\n+- Scan (1)", "new plan")


def test_plans_md_has_a_block_for_every_owned_section():
    with open(dump_plans.PLANS_MD) as f:
        text = f.read()
    out = dump_plans.replace_plan_blocks(text, {n: "PLAN" for n in dump_plans.SECTIONS})
    assert out.count("\n```\nPLAN\n```\n") == len(dump_plans.SECTIONS)
    # everything outside the owned blocks is kept, hand sections included
    assert "## e7_funnel (r13 window shape)" in out and "## Plan rules" in out
