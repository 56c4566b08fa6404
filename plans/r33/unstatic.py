"""Check that before/after PlanDumps differ only in how the native
expressions print.

Usage: python3 plans/r33/unstatic.py [-v] <dir>

Rewrites each `<q>_after.txt` kernel call, `static_invoke(graft....)`,
back to the expression it replaced (`simhash64(...)`, `verdict(...)`,
`cosine_similarity(a, b)` for `nanvl(<call>, null)`, ...), normalizes
both sides with scripts/plandiff.py's rules and compares them with
`<q>_before.txt`. Prints each pair that still differs and the count.
"""
import os, re, sys
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), '..', '..', 'scripts'))
import plandiff  # noqa: E402

NAMES = {'SimHash64.computeOrNull': 'simhash64', 'ShingleHashes.compute': 'shingle_hashes',
         'MinHashSig.compute': 'minhash_sig', 'Winnow.compute': 'winnow_fingerprint',
         'NTriples.parseRow': 'parse_ntriple', 'JsUrlMirror.isParseable': 'js_url_parseable'}

def split_args(s):
    out, depth, cur = [], 0, ''
    for ch in s:
        if ch == ',' and depth == 0:
            out.append(cur.strip()); cur = ''; continue
        if ch in '([': depth += 1
        if ch in ')]': depth -= 1
        cur += ch
    out.append(cur.strip())
    return out

def match_paren(s, i):
    depth = 0
    for j in range(i, len(s)):
        if s[j] == '(': depth += 1
        elif s[j] == ')':
            depth -= 1
            if depth == 0: return j
    raise ValueError(s[i:i+80])

def rewrite(text):
    while True:
        i = text.find('static_invoke(graft.')
        if i < 0: return text
        end = match_paren(text, i + len('static_invoke'))
        inner = text[i + len('static_invoke('):end]
        m = re.match(r'graft\.(?:functions|rdf)\.(\w+)\.(\w+)\(', inner)
        key = f'{m.group(1)}.{m.group(2)}'
        args = split_args(rewrite(inner[m.end():-1]))
        if key in NAMES: new = f'{NAMES[key]}({", ".join(args)})'
        elif m.group(1) == 'TermKernel': new = f'{m.group(2)}({", ".join(args)})'
        elif key == 'SignSignature.computeOrNull':
            new = f'sign_signature({args[0]}, {args[1]}, {args[2]}, {args[4]})'
        elif key == 'CosineSimilarity.compute':
            new = f'COS({args[0]}, {args[1]})'
        elif key == 'JsDateReformat.reformat':
            new = f'{"js_datetime_reformat" if args[1] == "true" else "js_date_reformat"}({args[0]})'
        else: raise ValueError(key)
        text = text[:i] + new + text[end + 1:]

def cos(text):
    # nanvl(COS(a, b), null) -> cosine_similarity(a, b)
    while True:
        i = text.find('nanvl(COS(')
        if i < 0: return text
        end = match_paren(text, i + len('nanvl'))
        inner = text[i + len('nanvl('):end]
        j = match_paren(inner, len('COS'))
        assert inner[j + 1:] == ', null', inner
        text = text[:i] + 'cosine_similarity(' + inner[len('COS('):j] + ')' + text[end + 1:]

d = [a for a in sys.argv[1:] if a != '-v'][0]
bad = 0
for f in sorted(os.listdir(d)):
    if not f.endswith('_before.txt'): continue
    q = f[:-len('_before.txt')]
    before = plandiff.normalize(open(os.path.join(d, f)).read())
    after = plandiff.normalize(cos(rewrite(open(os.path.join(d, q + '_after.txt')).read())))
    if before != after:
        bad += 1
        print('still differs', q)
        if '-v' in sys.argv:
            import difflib
            sys.stdout.writelines(l for l in difflib.unified_diff(before.splitlines(True), after.splitlines(True)) if l[0] in '+-')
print('remaining differences:', bad)
sys.exit(1 if bad else 0)
