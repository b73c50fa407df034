#!/usr/bin/env python3
"""Compare two `graft.Probe dump-plans` output directories plan by plan.

Usage: plan_diff.py <dirA> <dirB>

Each plan is normalized before the diff: expression ids (#n), the
session-wide counter in lambda variable names (x_n), RDD ids
and their creation call sites, exchange plan ids, lambda identities, the
enclosing object of graft.query row types, and the codegen and query-stage
ids that the AQE materialization of cached index tables numbers in
completion order (these differ between two runs of the same tree).
Prints one line per plan and exits 1 if any normalized plan differs.
"""
import difflib, os, re, sys


def norm(t):
    t = re.sub(r'#\d+L?', '#N', t)
    t = re.sub(r'lambda x_\d+', 'lambda x_N', t)
    t = re.sub(r'(RDD|ExistingRDD)\[\d+\]', r'\1[N]', t)
    t = re.sub(r' at \w+ at \w+\.scala:\d+', ' at CALLSITE', t)
    t = re.sub(r'plan_id=\d+', 'plan_id=N', t)
    t = re.sub(r'Lambda\$?\d*/0x[0-9a-f]+@[0-9a-f]+', 'LAMBDA', t)
    t = re.sub(r'@[0-9a-f]{5,}', '@H', t)
    t = re.sub(r'graft\.query\.(Forward|Phrasematch|Spatialmatch|Verifymatch|ContextRank)\$+',
               'graft.query.STAGE$', t)
    t = re.sub(r'codegen id : \d+', 'codegen id : N', t)
    t = re.sub(r'\*\(\d+\)', '*(N)', t)
    t = re.sub(r'(ShuffleQueryStage|BroadcastQueryStage|TableCacheQueryStage) \d+', r'\1 N', t)
    t = re.sub(r'\nArguments: \d+\n', '\nArguments: N\n', t)
    return t.splitlines()


def main(a, b):
    names = sorted(set(os.listdir(a)) | set(os.listdir(b)))
    bad = 0
    for n in names:
        pa, pb = os.path.join(a, n), os.path.join(b, n)
        if not (os.path.exists(pa) and os.path.exists(pb)):
            print(f'{n}: missing on one side')
            bad += 1
            continue
        d = list(difflib.unified_diff(norm(open(pa).read()), norm(open(pb).read()),
                                      lineterm='', n=0))
        print(f'{n}: {"identical" if not d else f"{len(d)} diff lines"}')
        bad += bool(d)
        for line in d[:20]:
            print('  ' + line)
    return 1 if bad else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1], sys.argv[2]))
