"""Regenerate QUERIES.md: the full driver-facing query inventory,
grouped by catalog module, one line per query (name + first docstring
sentence). Mechanical — run after adding/renaming queries; a test
asserts the name set matches the live registry."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from incubyte_vaccination_data_pipeline_spark.catalog import (  # noqa: E402
    DEPRECATED,
    ORACLES,
    QUERIES,
)


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    if ". " in text:  # whitespace already normalized — one stop marker
        return text[: text.index(". ") + 1]
    return text[:160]


def main() -> None:
    by_module: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        mod = fn.__module__.rsplit(".", 1)[-1]
        by_module.setdefault(mod, []).append(name)
    lines = [
        "# Query inventory (auto-generated — scripts/gen_query_inventory.py)",
        "",
        f"{len(QUERIES)} named queries, every one with a DuckDB oracle "
        f"({len(ORACLES)} oracles). Grouped by catalog module; the "
        "one-liner is the query docstring's first sentence.",
        "",
    ]
    for mod in sorted(by_module):
        lines.append(f"## {mod} ({len(by_module[mod])})")
        lines.append("")
        for name in sorted(by_module[mod]):
            tag = (
                f" *(deprecated — use `{DEPRECATED[name]}`)*"
                if name in DEPRECATED
                else ""
            )
            lines.append(
                f"- **{name}**{tag} — {first_sentence(QUERIES[name].__doc__)}"
            )
        lines.append("")

    Path(__file__).resolve().parents[1].joinpath("QUERIES.md").write_text(
        "\n".join(lines)
    )
    print(f"wrote QUERIES.md with {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
