import gen


def test_same_seed_same_pages():
    p = gen.Profile(n_pages=300, html_only_share=0.1, near_dup_share=0.05)
    a, b = gen.make_pages(7, p), gen.make_pages(7, p)
    assert a.rows == b.rows and a.planted == b.planted
    assert gen.fingerprint(a.rows) == gen.fingerprint(b.rows)


def test_other_seed_other_pages():
    p = gen.Profile(n_pages=100)
    assert (gen.fingerprint(gen.make_pages(1, p).rows)
            != gen.fingerprint(gen.make_pages(2, p).rows))


def test_profile_shares_are_applied():
    p = gen.Profile(n_pages=2000, html_only_share=0.1, near_dup_share=0.05)
    c = gen.make_pages(3, p)
    rows = c.rows
    assert len(rows) == 2000
    assert sum(1 for r in rows if r[3] is None) == 200        # html-only
    assert sum(1 for r in rows if r[4] != "en") == 40         # 2 % default
    assert len(c.planted) == 100                              # near-dups
    assert len({r[0] for r in rows}) == 2000
    assert all(r[2].startswith(b"<!DOCTYPE html>") for r in rows)


def test_work_does_not_depend_on_the_seed():
    p = gen.Profile(n_pages=400)
    sentences = {sum(r[3].count(".") for r in gen.make_pages(s, p).rows
                     if r[4] == "en") for s in (1, 2, 3)}
    assert len(sentences) == 1


def test_embeddings_deterministic():
    a = gen.make_embeddings(5, 50)
    b = gen.make_embeddings(5, 50)
    assert a.shape == (50, 64) and (a == b).all()
