"""Generate API.md: every public export of fenix_spark with its home
module and the test files that exercise it — the quick coverage map
for reviewers (regenerate after adding exports)."""

from __future__ import annotations

import ast
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    src = open(os.path.join(ROOT, "fenix_spark", "__init__.py")).read()
    tree = ast.parse(src)
    (homes_dict,) = (
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "_HOMES" for t in node.targets)
    )
    homes: dict[str, str] = ast.literal_eval(homes_dict)
    # session helpers live outside the lazy map
    for eager in ("get_session", "tune_session", "recommend_confs", "apply_confs"):
        homes.setdefault(eager, "fenix_spark.session")

    tests_dir = os.path.join(ROOT, "tests")
    test_text = {
        f: open(os.path.join(tests_dir, f)).read()
        for f in sorted(os.listdir(tests_dir))
        if f.endswith(".py")
    }

    def tests_for(sym: str) -> str:
        pat = re.compile(rf"\b{re.escape(sym)}\b")
        hits = [f for f, t in test_text.items() if pat.search(t)]
        return ", ".join(f"`{h}`" for h in hits[:4]) + (
            ", …" if len(hits) > 4 else ""
        )

    by_module: dict[str, list[str]] = {}
    for sym, mod in sorted(homes.items()):
        by_module.setdefault(mod, []).append(sym)

    lines = [
        "# API index — every public export, its home, and its tests",
        "",
        "Generated by `scripts/api_index.py`; regenerate after adding",
        "exports. Untested exports would show an empty tests column —",
        "keeping that column full is the coverage contract.",
        "",
        "| Export | Module | Exercised by |",
        "|---|---|---|",
    ]
    missing = []
    for mod in sorted(by_module):
        for sym in sorted(by_module[mod]):
            t = tests_for(sym)
            if not t:
                missing.append(sym)
            lines.append(f"| `{sym}` | `{mod}` | {t or '—'} |")
    lines.append("")
    lines.append(f"{len(homes)} exports; {len(missing)} without a direct test-file mention"
                 + (f" ({', '.join(missing)})" if missing else "") + ".")
    lines.append("")
    out = os.path.join(ROOT, "API.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(homes)} exports, {len(missing)} unmentioned")


if __name__ == "__main__":
    main()
