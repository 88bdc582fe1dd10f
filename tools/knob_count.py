#!/usr/bin/env python3
"""Knob census of the program code: prints ONE JSON line with
  - main_lines: line count of every .scala/.java file under the source root;
  - graft_keys: sorted distinct `graft.*` keys read from a session conf
    (`conf.get/getOption/contains`) or a JVM system property
    (`sys.props.get/getOrElse`, `System.getProperty`);
  - env_vars: sorted distinct `SPARK_GRAFT_*` environment variables read
    (`sys.env.get/getOrElse/contains/apply`, `System.getenv`);
  - stale: sorted `SPARK_GRAFT_*` / `graft.*` names that the scripts under
    tools/, README.md or .claude/skills/ set or document but that no call
    site under src/main or src/test reads: a script or doc that still runs
    a deleted knob. r18/ holds run records and is not scanned. A dotted
    `graft.<pkg>...` name whose first segment is a source package or file
    (`graft.streaming.OnlineIngestor`) is code, not a key;
  - test_only: sorted `Object.member` names of the member-level
    `def`/`val`/`class`/`object` definitions in src/main objects that
    only specs reach: code under src/test uses the member, or a
    test-only member does, and every use under src/main outside the
    definition's own body sits inside members that are themselves
    test-only (the rule applied until nothing changes). A use under
    perfbench/src is a caller like any src/main use outside a member.
    Names are matched as words with comments stripped, and a use in
    another file counts only if that file also names the object (a
    qualified call or an import). The list also holds the top-level
    `class`/`object`/`trait` names of src/main (a class and its
    companion are one name) that nothing outside test-only code
    reaches: every src/main use outside the definition lies inside a
    listed member or a listed top-level definition (an `import` line
    is not a use), no perfbench/src file names it, and it has no
    `def main`. A `META-INF/services` registration is not a use, so a
    definition reached only by a specs' `format(...)` short name, or
    by nothing at all, is listed too;
  - stacked_docs: the number of scaladoc blocks under the source root
    that end on the line directly above another `/**` block, so they
    document no definition;
  - narrating_comments: the number of comment lines under the source
    root that name a review round or a change rather than explain the
    code (`\br[0-9]{1,2}\b`, `round [0-9]`, `PR [0-9]`, `VERDICT`,
    `ADVICE`); string literals, such as SQL aliases `r0`/`r1`, do not
    count;
plus the three counts. Only call sites count: a key named in a comment or a
logger name is not a knob.

Usage: knob_count.py [srcRoot]   (default: src/main next to this tool;
the stale check always reads the repo's own src/main and src/test)"""
import bisect, itertools, json, os, re, sys

repo = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, "src", "main")

# `.getOption(` may sit on the line after `spark.conf`; matching the
# call and its literal argument is enough, whitespace included
CONF = re.compile(
    r'\.(?:getOption|get|getOrElse|contains|getProperty)\(\s*"(graft\.[\w.]+)"')
ENV = re.compile(
    r'(?:sys\.env(?:\s*\.\s*(?:get|getOrElse|contains|apply))?|System\.getenv)'
    r'\s*\(\s*"(SPARK_GRAFT_\w+)"')

# names as scripts and docs spell them
DOC_ENV = re.compile(r'\bSPARK_GRAFT_\w+')
DOC_KEY = re.compile(r'\bgraft(?:\.[A-Za-z]\w*){2,}')


def texts(top, exts):
    for d, _, files in os.walk(top):
        for f in files:
            if f.endswith(exts):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    yield fh.read()


def reads(top):
    """(graft keys, env vars) read at call sites under `top`, its lines,
    its stacked scaladoc blocks and its narrating comment lines."""
    keys, envs, lines, stacked, narrating = set(), set(), 0, 0, 0
    for text in texts(top, (".scala", ".java")):
        lines += text.count("\n")
        keys.update(CONF.findall(text))
        envs.update(ENV.findall(text))
        rows = [r.strip() for r in text.split("\n")]
        stacked += sum(a.endswith("*/") and b.startswith("/**")
                       for a, b in zip(rows, rows[1:]))
        narrating += sum(bool(NARRATING.search(row)) for m, is_comment in tokens(text)
                         if is_comment for row in m.group().split("\n"))
    return keys, envs, lines, stacked, narrating


LITERAL = re.compile(r'"""(?:.|\n)*?"""+|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\\\'\n])\'')
COMMENT = re.compile(r'//[^\n]*|/\*(?:.|\n)*?\*/')
NARRATING = re.compile(r'\br[0-9]{1,2}\b|round [0-9]|PR [0-9]|VERDICT|ADVICE')


def tokens(text):
    """The string/char literals and comments of `text` in order, each as
    (match, is_comment): a comment opener inside a literal is literal."""
    i = 0
    while True:
        lit, com = LITERAL.search(text, i), COMMENT.search(text, i)
        first = min((m for m in (lit, com) if m), key=lambda m: m.start(), default=None)
        if first is None:
            return
        yield first, first is com
        i = first.end()


def strip_comments(text):
    """`text` with every comment blanked to spaces (newlines kept, so line
    numbers still hold); string and char literals are kept as they are."""
    out, i = [], 0
    for m, is_comment in tokens(text):
        out.append(text[i:m.start()])
        out.append(re.sub(r"[^\n]", " ", m.group()) if is_comment else m.group())
        i = m.end()
    return "".join(out) + text[i:]


TOP_OBJECT = re.compile(r'(?:(?:private\[\w+\]|final|case)\s+)*object\s+(\w+)')
TOP_DEF = re.compile(
    r'(?:(?:private(?:\[\w+\])?|final|case|sealed|abstract|implicit)\s+)*'
    r'(?:class|object|trait)\s+([A-Za-z_]\w*)')
IMPORT = re.compile(r'\s*import\s')
MAIN = re.compile(r'\bdef\s+main\s*\(')
MEMBER = re.compile(
    r'  (?:(?:private\[\w+\]|protected|final|implicit|lazy|case|sealed|abstract)\s+)*'
    r'(?:def|val|var|class|object|trait)\s+([A-Za-z_]\w*)')


def member_defs(lines):
    """(object, name, first line, end line) of each member definition of
    a top-level object; the span runs to the next line at the member's
    own indent, a closing brace or paren there included."""
    obj = None
    for i, line in enumerate(lines):
        if line[:1] not in ("", " ", "\t", "}"):
            m = TOP_OBJECT.match(line)
            obj = m.group(1) if m else None
        m = MEMBER.match(line)
        if obj is None or not m:
            continue
        j = i + 1
        while j < len(lines) and (not lines[j].strip() or
                                  len(lines[j]) - len(lines[j].lstrip()) > 2):
            j += 1
        if j < len(lines) and lines[j].startswith(("  }", "  )")):
            j += 1
        yield obj, m.group(1), i, j


def top_defs(lines):
    """(name, first line, end line) of each top-level definition; the
    span runs to the next top-level definition or the end of the file."""
    starts = [(i, m.group(1)) for i, line in enumerate(lines)
              for m in [TOP_DEF.match(line)] if m]
    for (i, name), (j, _) in zip(starts, starts[1:] + [(len(lines), None)]):
        yield name, i, j


def code_files(*parts):
    """path → comment-stripped lines of every source file under repo/parts."""
    files = {}
    for d, _, names in os.walk(os.path.join(repo, *parts)):
        for f in names:
            if f.endswith((".scala", ".java")):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    files[os.path.join(d, f)] = strip_comments(fh.read()).split("\n")
    return files


def test_only():
    """Members of src/main objects that only src/test code reaches."""
    main, test = code_files("src", "main"), code_files("src", "test")
    bench = code_files("perfbench", "src")
    texts = {p: "\n".join(ls) for p, ls in itertools.chain(
        main.items(), test.items(), bench.items())}
    defs = {p: list(member_defs(ls)) for p, ls in main.items()}
    starts = {p: list(itertools.accumulate((len(l) + 1 for l in ls), initial=0))
              for p, ls in main.items()}

    def enclosing(path, line):
        """The member whose span holds `line`, or None outside any."""
        return next((f"{o}.{n}" for o, n, lo, hi in defs[path] if lo <= line < hi), None)

    naming = {}  # object → (main, test, perfbench files) that name it
    callers, in_test = {}, set()  # member → enclosing members of its src/main uses
    for path, members in defs.items():
        for obj, name, lo, hi in members:
            if obj not in naming:
                owner = re.compile(r'\b%s\b' % obj)
                naming[obj] = tuple([p for p in side if owner.search(texts[p])]
                                    for side in (main, test, bench))
            in_main, tests, benches = naming[obj]
            word = re.compile(r'\b%s\b' % name)
            key = f"{obj}.{name}"
            uses = set()
            for p in set(in_main) | {path}:
                for m in word.finditer(texts[p]):
                    line = bisect.bisect_right(starts[p], m.start()) - 1
                    # a use inside the member's own body does not count
                    if not (p == path and lo <= line < hi):
                        uses.add(enclosing(p, line))
            if any(word.search(texts[p]) for p in benches):
                uses.add(None)
            callers[key] = uses
            if any(word.search(texts[p]) for p in tests):
                in_test.add(key)
    found = set()
    while True:
        more = {k for k, uses in callers.items() if k not in found and
                None not in uses and uses <= found and (k in in_test or uses)}
        if not more:
            break
        found |= more
    return sorted(found | test_only_tops(main, bench, texts, defs, found))


def test_only_tops(main, bench, texts, defs, members):
    """Top-level definitions of src/main that nothing outside test-only
    code reaches: the largest set in which every use of a name lies in
    a listed member (`members`) or in a definition of the set."""
    tops = {p: list(top_defs(ls)) for p, ls in main.items()}
    spans = {}  # name → its (path, first, end) spans
    for p, ds in tops.items():
        for name, lo, hi in ds:
            spans.setdefault(name, []).append((p, lo, hi))

    def unit(p, line):
        """(enclosing member, enclosing top-level name) of a use."""
        member = next((f"{o}.{n}" for o, n, lo, hi in defs[p] if lo <= line < hi), None)
        top = next((n for n, lo, hi in tops[p] if lo <= line < hi), None)
        return member, top

    uses = {}
    for name, own in spans.items():
        word = re.compile(r'\b%s\b' % name)
        if any(MAIN.search(line) for p, lo, hi in own for line in main[p][lo:hi]) or \
                any(word.search(texts[p]) for p in bench):
            continue
        uses[name] = set()
        for p, ls in main.items():
            for i, line in enumerate(ls):
                if word.search(line) and not IMPORT.match(line) and \
                        not any(q == p and lo <= i < hi for q, lo, hi in own):
                    uses[name].add(unit(p, i))
    found = set(uses)
    while True:
        dropped = {n for n in found if any(top not in found and member not in members
                                           for member, top in uses[n])}
        if not dropped:
            return found
        found -= dropped


def is_code_path(name):
    seg = os.path.join(repo, "src", "main", "scala", "graft", name.split(".")[1])
    return os.path.isdir(seg) or os.path.isfile(seg + ".scala")


keys, envs, lines, stacked, narrating = reads(root)
read_names = set()
for s in ("main", "test"):
    k, e, _, _, _ = reads(os.path.join(repo, "src", s))
    read_names |= k | e
with open(os.path.join(repo, "README.md"), encoding="utf-8") as fh:
    docs = [fh.read()]
for top in ("tools", os.path.join(".claude", "skills")):
    docs += texts(os.path.join(repo, top), (".py", ".sh", ".md"))
named = {n for t in docs for n in DOC_ENV.findall(t) + DOC_KEY.findall(t)}
stale = sorted(n for n in named
               if n not in read_names and not (n.startswith("graft.") and is_code_path(n)))

only = test_only()
print(json.dumps({
    "main_lines": lines,
    "graft_keys": sorted(keys), "n_graft_keys": len(keys),
    "env_vars": sorted(envs), "n_env_vars": len(envs),
    "stale": stale,
    "test_only": only, "n_test_only": len(only),
    "stacked_docs": stacked,
    "narrating_comments": narrating,
}))
