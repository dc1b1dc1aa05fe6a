#!/usr/bin/env python3
"""Count Scala lines under src/main and src/test.

Usage: loc.py [REV]

Prints, for main and test, the total line count (what `wc -l` gives) and
the code count: lines left with something other than whitespace once
`//` and (nested) `/* */` comments are removed. Removing a comment lowers
the first number only, so a net-LOC claim should quote both. With REV,
counts the files of that git revision instead of the working tree.
"""
import pathlib
import subprocess
import sys


def code_lines(text):
    """Lines with code outside comments; string literals are skipped whole."""
    n, depth, i, has_code = 0, 0, 0, False
    while i < len(text):
        ch, nxt = text[i], text[i + 1:i + 2]
        if ch == "\n":
            n, has_code = n + has_code, False
        elif depth:
            if ch == "*" and nxt == "/":
                depth, i = depth - 1, i + 1
            elif ch == "/" and nxt == "*":
                depth, i = depth + 1, i + 1
        elif ch == "/" and nxt == "/":
            i = text.find("\n", i) - 1
            if i < 0:
                break
        elif ch == "/" and nxt == "*":
            depth, i = 1, i + 1
        elif ch == '"':
            has_code = True
            quote = '"""' if text.startswith('"""', i) else '"'
            j = i + len(quote)
            while j < len(text) and not text.startswith(quote, j):
                if quote == '"' and text[j] in "\\\n":
                    if text[j] == "\n":
                        break  # unterminated: let the newline end the line
                    j += 1
                j += 1
            # a multi-line string counts on every line it spans
            n += text.count("\n", i, j)
            i = j - 1 if text[j:j + 1] == "\n" else j + len(quote) - 1
            while quote == '"""' and text.startswith('"', i + 1):
                i += 1
        elif ch == "'" and (nxt == "\\" or text[i + 2:i + 3] == "'"):
            # a char literal, possibly escaped: '"', '\''
            has_code, i = True, (text.find("'", i + 3) if nxt == "\\" else i + 2)
        elif not ch.isspace():
            has_code = True
        i += 1
    return n + has_code


def sources(rev, tree):
    """(path, text) of every .scala file under src/<tree>."""
    if rev is None:
        for p in sorted(pathlib.Path("src", tree).rglob("*.scala")):
            yield str(p), p.read_text()
        return
    names = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, f"src/{tree}"],
                           capture_output=True, text=True, check=True).stdout.split()
    for name in names:
        if name.endswith(".scala"):
            yield name, subprocess.run(["git", "show", f"{rev}:{name}"], capture_output=True,
                                       text=True, check=True).stdout


def main(argv):
    rev = argv[1] if len(argv) > 1 else None
    for tree in ("main", "test"):
        total = code = 0
        for _, text in sources(rev, tree):
            total += text.count("\n") + (not text.endswith("\n") and text != "")
            code += code_lines(text)
        print(f"{tree:5} {total:6} lines {code:6} code")


if __name__ == "__main__":
    main(sys.argv)
