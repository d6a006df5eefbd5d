"""Extended mineral set (E2, E5-E16) parity tests.

Fixtures and assertions ported from the reference suite
(``/root/reference/tests/conftest.py:61-600``,
``tests/test_minerals.py:105-945``): per-mineral end-member column sets,
sums-to-100 invariants, and compositional-dominance checks on the same
multi-row fixtures.
"""

import pandas as pd
import pytest

from petropandas_spark import minerals_ext as me
from petropandas_spark.frame import PetroFrame


def _em(spark, data: dict, mineral) -> pd.DataFrame:
    pdf = pd.DataFrame(data)
    # Spark row order is partition-dependent — carry an id through the
    # pipeline (it's a meta column) and restore fixture order afterwards.
    pdf.insert(0, "id", range(len(pdf)))
    pf = PetroFrame.ingest(spark.createDataFrame(pdf))
    out = pf.end_members(mineral).df.toPandas()
    return out.sort_values("id").reset_index(drop=True).drop(columns=["id"])


class TestGarnetFe3:
    DATA = {  # ref conftest.py:75-93 (fe_garnet_multi)
        "SiO2": [36.00, 38.00, 37.00], "Al2O3": [0.00, 20.00, 5.00],
        "FeO": [27.90, 20.00, 8.00], "Cr2O3": [0.00, 0.00, 10.00],
        "CaO": [33.00, 3.00, 28.00], "MgO": [0.00, 12.00, 7.00],
        "MnO": [0.00, 2.00, 0.50],
    }

    def test_pseudoinverse_literals(self):
        """The folded (AᵀA)⁻¹Aᵀ literals are the exact pseudoinverse,
        M/474 for an integer M, each entry rounded once to the nearest
        double (a LAPACK solve misses the last bit of most entries, by an
        amount that depends on the BLAS build), and a left inverse of A."""
        import numpy as np

        m = np.array([[-18, 140, -18, -18, -18, -18, 30],
                      [-74, -74, 84, 84, -74, 84, 18],
                      [-18, -18, -18, -18, 140, -18, 30],
                      [83, -75, -75, -75, -75, 162, -33],
                      [84, 84, 84, -153, 84, -153, 18],
                      [-27, -27, -27, 210, -27, -27, 45]])
        assert np.array_equal(me._GRTFE3_PINV, m / 474)
        a = np.array([[0, 3, 0, 0, 0, 2, 3], [0, 0, 3, 0, 0, 2, 3],
                      [0, 0, 0, 0, 3, 2, 3], [3, 0, 0, 0, 0, 2, 3],
                      [3, 0, 2, 0, 0, 0, 3], [3, 0, 0, 2, 0, 0, 3]]).T
        assert np.array_equal(m @ a, 474 * np.eye(6, dtype=int))

    def test_columns_and_sum(self, spark):
        out = _em(spark, self.DATA, me.GARNETFE3)
        assert set(out.columns) == {"Prp", "Alm", "Sps", "Grs", "Adr", "Uvr"}
        for s in out.sum(axis=1):
            assert s == pytest.approx(100.0, abs=1e-9)

    def test_andradite_ideal(self, spark):
        # ref test_minerals.py:129-131 + conftest andradite fixture
        data = {"SiO2": [36.00], "Al2O3": [0.00], "FeO": [27.90],
                "CaO": [33.00], "MgO": [0.00], "MnO": [0.00]}
        out = _em(spark, data, me.GARNETFE3)
        assert out["Adr"].iloc[0] > 90.0

    def test_row_dominance(self, spark):
        out = _em(spark, self.DATA, me.GARNETFE3)
        assert out["Adr"].iloc[0] > 80.0          # andradite-rich row
        assert out["Prp"].iloc[1] > 30.0          # pyralspite row
        assert out["Uvr"].iloc[2] > 20.0          # uvarovite-bearing row


class TestOrthopyroxene:
    DATA = {  # ref conftest.py:175-187
        "SiO2": [50.00, 48.00, 52.00], "Al2O3": [3.00, 5.00, 1.50],
        "FeO": [15.00, 25.00, 8.00], "MgO": [30.00, 18.00, 35.00],
        "CaO": [1.50, 3.00, 1.00], "TiO2": [0.50, 1.00, 0.20],
    }

    def test_end_members(self, spark):
        out = _em(spark, self.DATA, me.ORTHOPYROXENE)
        assert list(out.columns) == ["MgTs", "Wo", "En", "Fs"]
        assert len(out) == 3
        # Mg-rich rows 0/2: En dominant; Fe-rich row 1: M1 consumed the Mg
        # pool first (priority order), leaving an Fs-dominant M2 remainder —
        # same greedy semantics as the reference's pool loop.
        assert out["En"].iloc[0] > out["Fs"].iloc[0]
        assert out["En"].iloc[2] > out["Fs"].iloc[2]
        assert out["Fs"].iloc[1] > out["En"].iloc[1]
        assert (out >= -1e-12).all().all()


class TestMuscovite:
    DATA = {  # ref conftest.py:190-204
        "SiO2": [45.00, 42.00, 48.00], "Al2O3": [35.00, 30.00, 38.00],
        "FeO": [3.00, 8.00, 1.50], "MgO": [1.00, 3.00, 0.50],
        "TiO2": [0.50, 1.50, 0.30], "Na2O": [0.50, 0.30, 0.80],
        "K2O": [10.00, 9.50, 11.00], "BaO": [0.10, 0.20, 0.05],
    }

    def test_columns_and_sum(self, spark):
        out = _em(spark, self.DATA, me.MUSCOVITE)
        assert set(out.columns) == {
            "Al-Celadonite", "Fe-Al-Celadonite", "Pyrophyllite",
            "Margarite", "Paragonite", "Muscovite", "Trioctahedral",
        }
        for s in out.sum(axis=1):  # ref test_minerals.py:312-315
            assert s == pytest.approx(100.0, abs=1.0)
        assert out["Muscovite"].iloc[0] > 40.0  # high-Al row is Ms-dominant


class TestBiotite:
    DATA = {  # ref conftest.py:224-243 (biotite_multi)
        "SiO2": [43.00, 36.00, 36.50], "Al2O3": [12.50, 14.00, 17.50],
        "FeO": [3.00, 28.00, 5.00], "MgO": [28.00, 5.00, 18.00],
        "K2O": [10.50, 9.80, 10.20], "TiO2": [1.00, 3.50, 1.00],
        "MnO": [0.10, 0.50, 0.10], "Na2O": [0.10, 0.05, 0.10],
        "BaO": [0.00, 0.00, 0.00],
    }

    def test_columns_and_dominance(self, spark):
        out = _em(spark, self.DATA, me.BIOTITE)
        assert set(out.columns) == {
            "Phlogopite", "Annite", "Eastonite", "Siderophyllite", "Dioctahedral",
        }
        # row 0 near-ideal phlogopite; row 1 annite-rich
        assert out["Phlogopite"].iloc[0] > 50.0
        assert out["Annite"].iloc[1] > out["Phlogopite"].iloc[1]

    def test_phlogopite_ideal(self, spark):
        data = {"SiO2": [42.70], "Al2O3": [11.70], "FeO": [0.50],
                "MgO": [29.10], "K2O": [10.70], "TiO2": [0.20],
                "MnO": [0.05], "Na2O": [0.10], "BaO": [0.00]}
        out = _em(spark, data, me.BIOTITE)  # ref test_minerals.py:372-375
        assert out["Phlogopite"].iloc[0] > 80.0


class TestStaurolite:
    DATA = {  # ref conftest.py:264-281 (staurolite_multi)
        "SiO2": [28.0, 29.0, 27.5], "Al2O3": [53.0, 55.0, 51.0],
        "FeO": [13.0, 5.0, 10.0], "MgO": [2.5, 8.0, 2.0],
        "ZnO": [1.5, 0.2, 7.0], "MnO": [0.3, 0.5, 1.0],
        "TiO2": [0.7, 0.3, 0.5],
    }

    def test_columns_sum_dominance(self, spark):
        out = _em(spark, self.DATA, me.STAUROLITE)
        assert set(out.columns) == {
            "Fe-Staurolite", "Mg-Staurolite", "Zn-Staurolite", "Mn-Staurolite",
        }
        for s in out.sum(axis=1):
            assert s == pytest.approx(100.0, abs=1e-9)
        assert out["Fe-Staurolite"].iloc[0] > 50.0
        assert out["Mg-Staurolite"].iloc[1] > out["Fe-Staurolite"].iloc[1] * 0.5
        assert out["Zn-Staurolite"].iloc[2] > 10.0


class TestChlorite:
    DATA = {  # ref conftest.py:299-316 (chlorite_multi)
        "SiO2": [26.0, 24.0, 30.0], "Al2O3": [21.0, 22.0, 28.0],
        "FeO": [8.0, 28.0, 5.0], "MgO": [30.0, 10.0, 20.0],
        "Cr2O3": [0.1, 0.2, 0.0], "TiO2": [0.1, 0.3, 0.1],
    }

    def test_columns_sum_dominance(self, spark):
        out = _em(spark, self.DATA, me.CHLORITE)
        assert set(out.columns) == {
            "Clinochlore", "Chamosite", "Mg-Sudoite", "Fe-Sudoite",
        }
        for s in out.sum(axis=1):  # ref test_minerals.py:455-458
            assert s == pytest.approx(100.0, abs=1.0)
        assert out["Clinochlore"].iloc[0] > out["Chamosite"].iloc[0]  # Mg-rich
        assert out["Chamosite"].iloc[1] > out["Clinochlore"].iloc[1]  # Fe-rich


class TestEpidote:
    DATA = {  # ref conftest.py:319-341 (epidote_multi)
        "SiO2": [37.5, 38.5, 36.0], "Al2O3": [23.0, 30.0, 20.0],
        "FeO": [12.5, 2.0, 8.0], "CaO": [22.5, 23.5, 21.0],
        "MnO": [0.2, 0.1, 12.0], "TiO2": [0.1, 0.1, 0.3],
    }

    def test_columns_and_sum(self, spark):
        out = _em(spark, self.DATA, me.EPIDOTE)
        assert set(out.columns) == {
            "Clinozoisite", "Epidote", "Piemontite", "Mukhinite", "Tawmawite",
        }
        for s in out.sum(axis=1):
            assert s == pytest.approx(100.0, abs=1e-9)
        # Al-dominant row → clinozoisite dominant
        assert out["Clinozoisite"].iloc[1] > 80.0
        # Fe-rich row → more epidote than row 1
        assert out["Epidote"].iloc[0] > out["Epidote"].iloc[1]


class TestAmphibole:
    DATA = {  # ref conftest.py:363-383 (amphibole_multi)
        "SiO2": [43.0, 54.0, 56.0], "TiO2": [1.5, 0.2, 0.1],
        "Al2O3": [11.0, 2.5, 9.0], "FeO": [12.0, 8.0, 10.0],
        "MgO": [13.0, 20.0, 14.0], "CaO": [11.5, 12.0, 2.0],
        "Na2O": [1.5, 0.5, 6.5], "K2O": [0.8, 0.1, 0.1],
        "MnO": [0.2, 0.1, 0.1], "Cr2O3": [0.1, 0.0, 0.0],
    }

    def test_columns_sum_dominance(self, spark):
        out = _em(spark, self.DATA, me.AMPHIBOLE)
        assert set(out.columns) == {
            "Tremolite", "Actinolite", "Edenite", "Ferro-Edenite",
            "Pargasite", "Ferro-Pargasite", "Tschermakite", "Richterite",
            "Winchite", "Glaucophane", "Ferro-Glaucophane", "Riebeckite",
            "Magnesio-Riebeckite",
        }
        for s in out.sum(axis=1):  # ref test_minerals.py:585-588 (abs=2.0)
            assert s == pytest.approx(100.0, abs=2.0)
        # ref test_minerals.py:594-597: actinolite row → Tremolite > 50
        assert out["Tremolite"].iloc[1] > 50.0


class TestTitanite:
    DATA = {  # ref conftest.py:405-424 (titanite_multi)
        "SiO2": [30.48, 29.50, 30.00], "TiO2": [40.83, 35.00, 36.00],
        "Al2O3": [0.00, 6.00, 1.50], "FeO": [0.00, 0.50, 4.00],
        "CaO": [28.69, 28.00, 28.50], "MnO": [0.00, 0.10, 0.20],
        "MgO": [0.00, 0.05, 0.10], "SnO2": [0.00, 0.00, 0.00],
        "Nb2O5": [0.00, 0.00, 0.00],
    }

    def test_columns_sum_dominance(self, spark):
        out = _em(spark, self.DATA, me.TITANITE)
        assert set(out.columns) == {"Ttn", "Al-Ttn", "Fe-Ttn", "Mal", "Other"}
        for s in out.sum(axis=1):
            assert s == pytest.approx(100.0, abs=1e-9)
        assert out["Ttn"].iloc[0] > 95.0       # ref :668-670
        assert out["Al-Ttn"].iloc[1] > 10.0    # ref :672-675
        assert out["Fe-Ttn"].iloc[2] > 5.0     # ref :677-680

    def test_sn_bearing(self, spark):
        data = {"SiO2": [28.00], "TiO2": [25.00], "Al2O3": [1.00],
                "FeO": [0.50], "CaO": [27.00], "SnO2": [15.00],
                "MnO": [0.00], "MgO": [0.00]}
        out = _em(spark, data, me.TITANITE)  # ref :682-684
        assert out["Mal"].iloc[0] > 20.0


class TestChloritoid:
    DATA = {  # ref conftest.py:468-485 (chloritoid_multi)
        "SiO2": [24.5, 25.0, 23.0], "Al2O3": [39.5, 40.0, 38.0],
        "FeO": [22.0, 8.0, 18.0], "MgO": [5.0, 18.0, 3.0],
        "MnO": [3.0, 1.0, 14.0], "TiO2": [0.3, 0.5, 0.2],
    }

    def test_columns_sum_dominance(self, spark):
        out = _em(spark, self.DATA, me.CHLORITOID)
        assert set(out.columns) == {"Cld", "Mgcld", "Mncld"}
        for s in out.sum(axis=1):
            assert s == pytest.approx(100.0, abs=1e-9)
        assert out["Cld"].iloc[0] > 60.0       # ref :745-747
        assert out["Mgcld"].iloc[1] > 60.0     # ref :749-752
        assert out["Mncld"].iloc[2] > 30.0     # ref :754-757


class TestCordierite:
    DATA = {  # ref conftest.py:505-522 (cordierite_multi)
        "SiO2": [48.0, 47.0, 46.0], "Al2O3": [32.5, 31.0, 30.0],
        "FeO": [5.0, 14.0, 6.0], "MgO": [10.5, 3.0, 8.0],
        "MnO": [0.3, 0.5, 7.0], "Na2O": [0.5, 0.3, 0.4],
        "K2O": [0.1, 0.1, 0.2], "CaO": [0.1, 0.1, 0.1],
    }

    def test_columns_sum_dominance(self, spark):
        out = _em(spark, self.DATA, me.CORDIERITE)
        assert set(out.columns) == {"H₂O-Crd", "Mg-Crd", "Fe-Crd", "Mn-Crd"}
        for s in out.sum(axis=1):
            assert s == pytest.approx(100.0, abs=1e-9)
        assert out["Mg-Crd"].iloc[0] > out["Fe-Crd"].iloc[0]
        assert out["Fe-Crd"].iloc[1] > out["Mg-Crd"].iloc[1]


class TestIlmenite:
    DATA = {  # ref conftest.py:528-549 (ilmenite_multi)
        "SiO2": [0.00, 0.00, 0.00], "TiO2": [52.66, 50.00, 51.00],
        "Al2O3": [0.00, 0.00, 0.00], "FeO": [47.34, 35.00, 38.00],
        "MgO": [0.00, 14.00, 0.50], "MnO": [0.00, 0.50, 10.00],
        "Cr2O3": [0.00, 0.00, 0.00],
    }

    def test_columns_sum_dominance(self, spark):
        out = _em(spark, self.DATA, me.ILMENITE)
        assert set(out.columns) == {"Ilm", "Gk", "Pph", "Hem", "Chr"}
        for s in out.sum(axis=1):
            assert s == pytest.approx(100.0, abs=1e-9)
        assert out["Ilm"].iloc[0] > 90.0   # ideal FeTiO3
        assert out["Gk"].iloc[1] > 20.0    # Mg-bearing
        assert out["Pph"].iloc[2] > 10.0   # Mn-bearing


class TestSpinel:
    DATA = {  # ref conftest.py:566-586 (spinel_multi)
        "SiO2": [0.00, 0.00, 0.00], "TiO2": [0.20, 0.50, 0.30],
        "Al2O3": [55.00, 30.00, 15.00], "FeO": [10.00, 25.00, 15.00],
        "Fe2O3": [3.00, 5.00, 8.00], "Cr2O3": [5.00, 3.00, 45.00],
        "MgO": [25.00, 5.00, 10.00], "MnO": [0.30, 0.20, 0.10],
        "ZnO": [0.50, 0.30, 0.10],
    }

    def test_columns_sum_dominance(self, spark):
        out = _em(spark, self.DATA, me.SPINEL)
        assert set(out.columns) == {
            "Spl", "Herc", "Chrm", "Mtc", "Gahn", "Frank", "Jac", "Ulv", "Spss",
        }
        for s in out.sum(axis=1):
            assert s == pytest.approx(100.0, abs=1e-9)
        assert out["Spl"].iloc[0] > 50.0            # Mg-Al spinel
        assert out["Herc"].iloc[1] > out["Spl"].iloc[1]  # Fe-Al (hercynite)
        assert out["Chrm"].iloc[2] > 20.0           # chromite-like
