#!/usr/bin/env python3
"""Byte-identity check of the CH-SQL front end between two builds.

Usage: python3 tools/diff_rewrites/run.py <classesA> <classesB>

Each argument is a compiled `src/main/scala` (sbt's
`target/scala-2.13/classes` of a checkout). The corpus is every string
literal in `src/main`, `src/test` and `perfbench/src` of this checkout,
each pair of neighbouring literals of a file joined (the `"a" + "b"`
spelling of one statement), and the hand-written texts of `edges.sql`
(separated by lines holding only `;;`). Every text goes through both
builds' `TotalsParser.rewrite` (text and plan markers),
`needsPreRewrite`, `parseAlterTable`, `ChDdl.parseCreateTable`,
`ChMatView.parseSelect`, `ChProjections.parseBody` and
`YqlText.parseOptions` (DiffRewrites.scala, compiled here with the
Scala compiler of the Spark distribution).

Prints each difference with both outputs (only the function and the
text's origin when both builds threw, with different messages), then
the counts by function, origin, lexical content and kind. Exits 1 when
an output differs on a source-drawn text holding no comment (`--`,
`/*`) and no backslash: those must be byte-identical across a refactor
of the lexer.
"""
import base64
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
SOURCE_DIRS = ["src/main", "src/test", "perfbench/src"]
ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
           "\\": "\\", '"': '"', "'": "'"}


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("Spark jars not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def unescape(body):
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            n = body[i + 1]
            if n == "u" and i + 6 <= len(body):
                out.append(chr(int(body[i + 2:i + 6], 16)))
                i += 6
                continue
            out.append(ESCAPES.get(n, "\\" + n))
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def literals(src):
    """The string literals of one Scala source, in order."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            i = src.find("\n", i)
            i = n if i < 0 else i
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
        elif src.startswith('"""', i):
            end = src.find('"""', i + 3)
            if end < 0:
                break
            while src.startswith('"', end + 3):  # closing run of quotes
                end += 1
            out.append(src[i + 3:end])
            i = end + 3
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(unescape(src[i + 1:j]))
            i = j + 1
        elif src.startswith("'\\", i):  # an escaped char literal
            i = src.find("'", i + 3) + 1
        elif src[i] == "'" and src.startswith("'", i + 2):  # a char literal
            i += 3
        else:
            i += 1
    return out


def corpus():
    """(origin, text) pairs, source-drawn first, duplicates dropped."""
    seen, out = set(), []

    def add(origin, text):
        if text not in seen:
            seen.add(text)
            out.append((origin, text))

    for d in SOURCE_DIRS:
        for dirpath, _, names in sorted(os.walk(os.path.join(ROOT, d))):
            for name in sorted(names):
                if not name.endswith(".scala"):
                    continue
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, ROOT)
                with open(path, encoding="utf-8") as fh:
                    lits = literals(fh.read())
                for k, lit in enumerate(lits):
                    add(f"{rel}#{k}", lit)
                for k in range(len(lits) - 1):
                    add(f"{rel}#{k}+{k + 1}", lits[k] + lits[k + 1])
    with open(os.path.join(HERE, "edges.sql"), encoding="utf-8") as fh:
        edges = fh.read().split("\n;;\n")
    for k, text in enumerate(edges):
        if text.strip():
            add(f"edges.sql#{k}", text.strip("\n"))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    dir_a, dir_b = (os.path.abspath(a) for a in sys.argv[1:])
    texts = corpus()
    jars = os.path.join(spark_jars(), "*")
    work = tempfile.mkdtemp(prefix="diff_rewrites_")
    try:
        classes = os.path.join(work, "classes")
        os.makedirs(classes)
        subprocess.run(["java", "-Xss8m", "-Xmx1g", "-cp", jars,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", jars,
                        os.path.join(HERE, "DiffRewrites.scala")], check=True)
        corpus_file = os.path.join(work, "corpus.txt")
        with open(corpus_file, "w") as fh:
            for _, text in texts:
                fh.write(base64.b64encode(text.encode("utf-8")).decode() + "\n")
        run = subprocess.run(
            ["java", "-Xss16m", "-Xmx1g", "-cp", classes + os.pathsep + jars,
             "DiffRewrites", corpus_file, dir_a, dir_b],
            check=True, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    gated = 0
    by_kind = {}
    for line in run.stdout.splitlines():
        parts = line.split(" ")
        if parts[0] == "TOTAL":
            total = parts
        if parts[0] != "DIFF":
            continue
        origin, text = texts[int(parts[1])]
        out_a, out_b = (base64.b64decode(p).decode("utf-8") for p in parts[3:5])
        source = not origin.startswith("edges.sql")
        lexical = "--" in text or "/*" in text or "\\" in text
        thrown = out_a.startswith("THROWS") and out_b.startswith("THROWS")
        kind = (parts[2], "source" if source else "edge",
                "comment/backslash" if lexical else "plain",
                "both throw" if thrown else "output")
        by_kind[kind] = by_kind.get(kind, 0) + 1
        gated += source and not lexical and not thrown
        if thrown:
            print(f"== {parts[2]} on {origin}: both throw, messages differ")
        else:
            print(f"== {parts[2]} on {origin} [{', '.join(kind[1:3])}]\n"
                  f"   text: {text!r}\n   A:    {out_a!r}\n   B:    {out_b!r}")
    n_src = sum(1 for o, _ in texts if not o.startswith("edges.sql"))
    print(f"{total[1]} texts ({n_src} source-drawn, {len(texts) - n_src} "
          f"edges) x {total[2]} functions: {total[3]} differ")
    for kind, n in sorted(by_kind.items()):
        print(f"  {n:6d}  {' / '.join(kind)}")
    print(f"{gated} output differences on source-drawn texts without a "
          "comment or backslash")
    sys.exit(1 if gated else 0)

if __name__ == "__main__":
    main()
