#!/usr/bin/env python3
"""Diff two `graft.tools.ExplainQueries` output directories query by query.

    python3 tools/plan_diff.py <dirA> <dirB>

Each directory holds one `<query>.txt` per query (the formatted plan plus
the final adaptive plan). Before comparing, the tokens that change from run
to run without the plan changing are masked: expression ids (`#123`),
`plan_id`s, RDD ids (`MapPartitionsRDD[42]`), RDD call sites
(`localCheckpoint at Graph.scala:65`), temp-dir suffixes, UUIDs, JVM
closures (`graft.ops.Multimodal$$$Lambda$8206/0x7f32...@2e57538b`, owner
class included), the counters in lambda-variable names (`lambda x_24`), and the
numbers of adaptive query stages (`ShuffleQueryStage 4`) and whole-stage
codegen stages (`*(4)`), which follow the order stages materialize in.

Prints one line per query, `SAME <query>` or `DIFF <query>` followed by the
first differing masked line of each side, and exits 1 if any query differs
or exists on one side only.
"""
import os
import re
import sys

MASKS = [
    (re.compile(r'#\d+L?'), '#_'),
    (re.compile(r'plan_id=\d+'), 'plan_id=_'),
    (re.compile(r'\b(\w*RDD)\[\d+\]'), r'\1[_]'),
    (re.compile(r'\b(\w*QueryStage) \d+'), r'\1 _'),
    (re.compile(r'\*\(\d+\)'), '*(_)'),
    (re.compile(r'\b(\w+) at [\w$.]+\.(?:scala|java):\d+'), r'\1 at _'),
    (re.compile(r'[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}'), '<uuid>'),
    (re.compile(r'(graft_scratch_|graft_wh_|spark-|blockmgr-|temporary-)[\w-]+'), r'\1_'),
    (re.compile(r'[\w.$]*\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+'), '<lambda>'),
    (re.compile(r'\b(lambda [A-Za-z]\w*?)_\d+\b'), r'\1_'),
]


def masked(path):
    with open(path, encoding='utf-8') as f:
        text = f.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.split('\n')


def first_difference(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i + 1, x, y
    n = min(len(a), len(b))
    return n + 1, (a[n] if n < len(a) else '<end>'), (b[n] if n < len(b) else '<end>')


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    dir_a, dir_b = argv[1], argv[2]
    names_a = {f[:-4] for f in os.listdir(dir_a) if f.endswith('.txt')}
    names_b = {f[:-4] for f in os.listdir(dir_b) if f.endswith('.txt')}
    differ = 0
    for name in sorted(names_a | names_b):
        if name not in names_b or name not in names_a:
            side = 'A' if name in names_a else 'B'
            print(f'DIFF {name}: only in {side}')
            differ += 1
            continue
        a = masked(os.path.join(dir_a, name + '.txt'))
        b = masked(os.path.join(dir_b, name + '.txt'))
        if a == b:
            print(f'SAME {name}')
            continue
        differ += 1
        line, x, y = first_difference(a, b)
        print(f'DIFF {name}: line {line}')
        print(f'  - {x.strip()}')
        print(f'  + {y.strip()}')
    total = len(names_a | names_b)
    print(f'{total - differ} same, {differ} differ', file=sys.stderr)
    return 1 if differ else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
