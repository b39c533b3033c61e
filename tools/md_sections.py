"""Rewrite one '## ' section of a markdown report in place; the
probe tools that write their findings into STRESS.md share it."""


def replace_section(md_path: str, header: str, body: str) -> None:
    """Replace (or append) one '## ...' section, preserving the others
    — sections are bounded by the next line starting with '## '."""
    try:
        with open(md_path) as f:
            cur = f.read()
    except FileNotFoundError:
        cur = ""
    lines = cur.split("\n")
    starts = [
        i for i, ln in enumerate(lines) if ln.startswith(header)
    ]
    if starts:
        i = starts[0]
        j = next(
            (
                k
                for k in range(i + 1, len(lines))
                if lines[k].startswith("## ")
            ),
            len(lines),
        )
        out = lines[:i] + body.rstrip("\n").split("\n") + [""] + lines[j:]
    else:
        out = lines
        if out and out[-1].strip():
            out.append("")
        out += body.rstrip("\n").split("\n") + [""]
    with open(md_path, "w") as f:
        f.write("\n".join(out))
